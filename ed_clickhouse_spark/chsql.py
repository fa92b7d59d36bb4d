"""ClickHouse SQL dialect front-end: rewrite the ClickHouse-only query
syntax a user of the reference stack actually writes into Spark SQL.

The reference delegates its whole query surface to ClickHouse
(SURVEY.md §0 — the service's only query-side code is the HTTP insert
client, /root/reference/src/click_house.rs:61-92, and its nine
MergeTree DDLs, /root/reference/migrations/*.up.sql), so its users'
saved queries are ClickHouse SQL against those tables. The
function spellings (toStartOfDay, JSONExtractString, ...) are already
registered as Spark SQL functions (functions/clickhouse.py); what Spark
cannot accept is the CLAUSE-level dialect. This module rewrites, by
top-level token scanning (never inside strings/parens); where each
clause of a query level starts and ends is read off one splitter,
_clauses, whose _CLAUSES table is the only spelling of the clause
keywords:

  =====================  ==========================================
  ClickHouse             Spark rewrite
  =====================  ==========================================
  PREWHERE c             WHERE c (merged with AND into existing WHERE;
                         Spark pushes scan predicates itself)
  FROM t FINAL           FROM t — the engine registers <name> as the
                         merged (FINAL) view and <name>_raw as the
                         append log (ddl.register_view), so FINAL is
                         the default read and the keyword drops out
  SAMPLE f               deterministic md5 hash-range predicate over
                         the table's SAMPLE BY key (ddl.sample_read's
                         predicate, inlined as SQL)
  [LEFT] ARRAY JOIN      LATERAL VIEW [OUTER] explode(...); a bare
                         item (ARRAY JOIN xs) over one relation reads
                         the renamed source column, so xs means the
                         element; chained clauses (ARRAY JOIN a AS x
                         ARRAY JOIN b AS y) cross-product
  LIMIT n BY c1, c2      row_number() window wrapper (QUALIFY-style)
  GROUP BY c WITH TOTALS GROUP BY GROUPING SETS ((c), ())
  FORMAT X               stripped; the name is returned to the caller
                         (sources/io.py maps ClickHouse format names)
  SETTINGS k=v, ...      stripped (execution hints do not transfer)
  GLOBAL JOIN            JOIN (every Spark join is "global")
  =====================  ==========================================

  aggregate spellings    uniq/uniqExact/countIf/sumIf/argMax/argMin/
                         any/anyLast/groupArray/groupUniqArray/median/
                         count()/quantileX(p)(x)/quantilesX(..)(x) →
                         the same-shape Spark builtins
                         (_rewrite_agg_spellings; Exact variants map
                         to exact percentile, the rest to
                         approx_percentile — CH's default quantile is
                         approximate too)
  ANY JOIN t USING(k)    right side reduced to one row per key first
                         (row_number subquery ≙ operators/joins.py:
                         any_join) — supported for [LEFT|INNER] ANY
                         JOIN <table> USING (...); the pick is made
                         deterministic by ordering on the table's full
                         column list when the spec is known (so the
                         DuckDB oracle reproduces it), else on the key.
  arrayJoin(x) in SELECT lifted to clause form at the end of the FROM
                         section → LATERAL VIEW explode
                         (_rewrite_array_join_fn; Spark rejects
                         generators next to aggregates), before WHERE
                         reads SELECT aliases, so WHERE x filters the
                         generated rows; several calls chain
  toStartOfInterval      epoch-floor bucket expression (INTERVAL
                         literals can't be SQL-UDF parameters)
  {name:Type} params     clickhouse-client query parameters, filled
                         from a params dict with typed injection-safe
                         literal rendering (substitute_params)
  <base>If(args, cond)   generalized -If combinator for ANY aggregate
                         base (uniqIf, argMaxIf, groupArrayIf, ...):
                         each arg wraps in if(cond, arg, NULL) — Spark
                         aggregates ignore NULLs, so semantics match
  -Array / -Distinct     sumArray/minArray/maxArray/avgArray/countArray
                         fold over all elements; sumDistinct/avgDistinct
                         → DISTINCT-qualified builtins
  arrayMap/Filter/...    lambda-first CH HOFs → array-first Spark
                         builtins (zip_with for two-array arrayMap;
                         CH spellings inside lambdas inline as macros)
  WITH <expr> AS name    scalar WITH bindings substitute textually
                         (CTE items stay); tuple() → struct()
  LIMIT off, n           LIMIT n OFFSET off
  GLOBAL IN              IN (like GLOBAL JOIN)
  CAST(x AS Float64)     ClickHouse type names in cast positions →
  x::UInt32              Spark SQL types (_rewrite_ch_casts; Nullable/
  accurateCast[OrNull]   LowCardinality unwrap, Array/Decimal recurse;
                         accurateCastOrNull → TRY_CAST)
  topK(k)(x)             exact most-frequent-k as a collect_list fold
                         (ties by value asc, oracle-stable)
  retention(c1, ..)      array(r1, r1*r2, ...), ri = max(if(ci,1,0))
                         (exact ClickHouse semantics)
  windowFunnel(W)(..)    single aggregate() fold over the time-sorted
                         event array running ClickHouse's EXACT
                         re-anchoring DP; strict_order /
                         strict_deduplication / strict_increase mode
                         strings run the exact event loop too
                         (operators/windows.py:funnel_ch_fold_sql)
  sequenceMatch          sequential (?1).*(?2) patterns via the same
                         fold; (?t op n) time gaps via the nested-
                         exists exact search (re-anchoring complete);
                         branching patterns raise → use the operator
  sequenceCount          sequential patterns via the fold with a
                         greedy non-overlapping completion counter;
                         ClickHouse adjacency ('(?1)(?2)') counted
                         exactly (NFA subset simulation); (?t op n)
                         time gaps counted exactly too (timed
                         multi-slot NFA: min / 2-max / full-set live
                         times per depth by edge op, == capped at 64)
  groupArray(n)(x)       size-capped collectors → slice(collect_*)
  uniqUpTo(n)(x)         least(count(DISTINCT x), n+1)
  quantile...If(p)(x,c)  parametric + -If combinators compose
  sumMap(m)/(ks, vs)     per-key sums → sorted MAP (CH's array form
                         returns a tuple of arrays — same content)
  multiIf / extract /    polymorphic scalars rewritten at translate
  range / arrayZip /     time (_rewrite_scalar_misc): renames, CASE
  tupleElement / ...     expansion, filtered sequence, .colN access;
                         assumeNotNull/toNullable drop out
  [1, 2, 3] / expr[i]    bracket literals → array(); subscripts →
  x IN [..]              element_at (1-BASED, CH semantics — inside
                         ch_sql the dialect wins); IN-brackets →
                         membership tuple (_rewrite_brackets)
  toIntervalDay(n), ...  make_interval slot (_rewrite_intervals)
  bare WITH FILL         spine bounds from the result's own min/max
  countMerge/sumMerge/   -Merge combinators against each MV's
  avgMerge/uniqMerge     auto-registered <name>_state partials view
  position/formatDate-   round-4 fidelity: CH argument orders and
  Time/parseDateTime/    %-formats; SAMPLE k/n OFFSET o panels;
  SAMPLE OFFSET/WITH     identity INTERPOLATE; STEP INTERVAL any
  FILL INTERPOLATE       unit; LIMIT n WITH TIES threshold probe
  array-edit family /    type-preserving generic rewrites (slice,
  arraySort(f, a) /      push/pop, resize, compact, difference,
  arrayReduce / maps     cumSum, lambda-first sorts, literal-name
                         reduce, mapKeys/Values/Contains, min/maxMap,
                         -OrNull, groupBit*, groupArrayMovingSum/Avg)
  multi-item ARRAY JOIN  parallel arrays ZIP in one generator,
                         LATERAL VIEW [OUTER] inline(arrays_zip(
                         coalesce(e, array()), ...)): each array is
                         evaluated once per input row, never a cross
                         product; a NULL array counts as empty, and
                         shorter arrays pad with NULL
  probe batch (late r4)  rotate/shift/resize/fold/partialSort with
  map HOFs / char() /    element-type zeros; lambda-first mapFilter/
  format() / variadic    mapApply + mapAdd/Subtract; variadic char()
  CASE / ellipses        (type-position guarded) and literal format()
                         → format_string; caseWithExpression → CASE;
                         pointInEllipses; splitByRegexp arg order;
                         plus ~60 new scalar aliases (gcd/lcm, erf/
                         erfc/normalQuantile/proportionsZTest, Lp
                         norms, haversine geo, IP/JSON classifiers,
                         bitmask decomposition, detectLanguage twin
                         of operators/text.language_id, typed empty
                         arrays, rand* distributions)
  aggregate batch (r4)   quantileExactWeighted/InterpolatedWeighted →
                         percentile with frequency; quantileGK /
                         Deterministic; studentTTest/welchTTest from
                         -If moments (inlined-erfc normal p);
                         intervalLengthSum / maxIntersections(
                         Position) sweep folds; deltaSum(Timestamp);
                         entropy; sumCount; simpleLinearRegression;
                         boundingRatio; avgWeighted; skew/kurt
                         Samp↔Pop bridges; groupArrayLast(n)(x);
                         groupConcat; topK[Weighted][If];
                         sumDistinctIf/avgDistinctIf; Stable renames;
                         operator-only aggregates raise with the
                         DataFrame operator to use
  QUALIFY cond           wrapper subquery (cond as a select column,
                         filtered, dropped via * EXCEPT)
  lagInFrame + frame     frame stripped on rename (Spark lag/lead
  nonNegativeDerivative  reject frames); the derivative becomes a
  OVER (...)             clamped lag-rate with first-row NULL
  generate_series /      lazy range() TVFs (inclusive end, step;
  system.numbers         the LIMIT stops the unbounded stream)
  COLLATE / neighbor /   raise with the supported spelling (binary
  runningAccumulate/...  sort; lead/lag; sum() OVER) — never silent
  round-5 batches        date corners (addQuarters, unit-form
                         date_sub, interval overloads of date_add/
                         timestamp_add, toStartOfISOYear, Modified
                         Julian Day, toYearWeek week-0 rollover,
                         mode-parameterized toDayOfWeek, toTimeZone
                         under the pinned-UTC session); tuple algebra
                         over literals (.N access, untuple, concat,
                         element-wise vector ops, Hamming); stacked
                         combinators (-ArrayIf, position-wise
                         -ForEach(+If), uniqArray/groupArrayArray,
                         groupArraySample, sum/min/maxMappedArrays,
                         and a GENERALIZED -If over every aggregate
                         spelling incl. splice-composed bases); map
                         algebra (mapUpdate/Sort/PopulateSeries/
                         Exists/All); gamma kernel (Lanczos lgamma/
                         tgamma with reflection); corrMatrix family;
                         JSON multi-key paths + VARIANT JSONType;
                         URL cut/extract tail; IPv4 OrNull/CIDR +
                         UUID binary round-trips; array HOF tails
                         (fills, OrNull picks, dense enumeration,
                         shingles, dot product, AUC, deterministic
                         shuffles); named bitwise family (rotates,
                         bitTestAll/Any via shiftright, Hamming);
                         ray-casting pointInPolygon over literal
                         vertex lists; * REPLACE onto native
                         * EXCEPT (APPLY/COLUMNS raise — schema
                         needed); UTF8-suffixed string renames
  =====================  ==========================================

Clause-level rewrites apply AT EVERY NESTING LEVEL: translate walks
each parenthesized subquery / CTE body (innermost-out, _each_level) and
each top-level UNION / EXCEPT / INTERSECT branch, so PREWHERE / LIMIT
BY / ARRAY JOIN / WITH TOTALS / SAMPLE inside a derived table translate
exactly like the outer query. Expression-level rewrites scan at every
depth by construction. Rewritten inner text is spliced back and never
re-scanned, so generated wrappers are not re-entered.

Not translated (documented): ANY JOIN with an ON clause or a subquery
right side (the keys/columns are not recoverable from a string rewrite
— use operators/joins.py:any_join directly), and RIGHT ANY JOIN (which
dedups the LEFT side in ClickHouse; spell it as a reversed LEFT ANY).
"""

from __future__ import annotations

import re
from bisect import bisect_left as _bisect_left
from bisect import bisect_right as _bisect_right
from dataclasses import dataclass
from functools import lru_cache as _lru_cache
from functools import partial as _partial

@dataclass
class Translated:
    sql: str
    format: str | None = None


# memoized re.escape: the alias-substitution passes escape every alias
# name per translate() call (~540 escapes/call on the dialect bench SQL)
_esc = _lru_cache(maxsize=8192)(re.escape)


@_lru_cache(maxsize=8192)
def _rxc(pattern: str, flags: int = 0) -> re.Pattern:
    """Memoized re.compile. translate() builds thousands of DYNAMIC
    patterns (f-string spellings per pass); Python's global re cache
    holds 512 entries and thrashes, so ~80% of a translate() call was
    regex re-compilation (r11 profile). A module-local LRU keyed on
    (pattern, flags) makes every repeat pattern a dict hit."""
    return re.compile(pattern, flags)


@_lru_cache(maxsize=512)
def _scan_index(s: str):
    """Position index for O(log n) probes instead of per-char dicts:
    (string-literal span starts, span ends, paren positions, depth
    after that paren, open-paren position -> matching close). ``'``,
    ``"`` and backtick all quote: a '(' carries the incremented depth,
    a ')' the decremented one, and both quote chars of a literal count
    as in-string. Inside a literal a backslash escapes the next
    character, so ``'a\\\\'`` closes at its last quote. This is the one
    quoting rule every scanner here shares (_call_end,
    _split_top_commas, _find_top, the rewrite primitive) and
    ddl._split_top."""
    starts: list[int] = []
    ends: list[int] = []
    dpos: list[int] = [-1]
    dval: list[int] = [0]
    close_of: dict[int, int] = {}
    opens: list[int] = []
    depth = 0
    quote = None
    esc = False
    sstart = 0
    for i, ch in enumerate(s):
        if quote:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
                starts.append(sstart)
                ends.append(i + 1)
            continue
        if ch in "'\"`":
            quote = ch
            sstart = i
            continue
        if ch == "(":
            depth += 1
            dpos.append(i)
            dval.append(depth)
            opens.append(i)
        elif ch == ")":
            depth -= 1
            dpos.append(i)
            dval.append(depth)
            if opens:
                close_of[opens.pop()] = i
    if quote is not None:
        starts.append(sstart)
        ends.append(len(s))
    return tuple(starts), tuple(ends), tuple(dpos), tuple(dval), close_of


def _idx_in_string(idx, p: int) -> bool:
    starts, ends = idx[0], idx[1]
    j = _bisect_right(starts, p) - 1
    return j >= 0 and p < ends[j]


def _call_end(s: str, open_idx: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``open_idx``, read off
    _scan_index (parens inside string literals don't count, so e.g.
    ``extract(s, 'a\\(bc')`` finds its real closer)."""
    close = _scan_index(s)[4].get(open_idx)
    if close is None:
        raise ValueError(f"unbalanced parens after position {open_idx}")
    return close


def _idx_depth(idx, p: int) -> int:
    dpos, dval = idx[2], idx[3]
    return dval[_bisect_right(dpos, p) - 1]


def _find_top(s: str, pattern: str) -> re.Match | None:
    """First regex match at paren depth 0, outside string literals."""
    rx = _rxc(pattern, re.I)
    idx = _scan_index(s)
    for m in rx.finditer(s):
        p = m.start()
        if _idx_depth(idx, p) == 0 and not _idx_in_string(idx, p):
            return m
    return None


# -- the clause splitter ---------------------------------------------------
#
# The clause keywords of one query level, in the order a level spells
# them: (name, rank, pattern). This table is the only place they are
# spelled. A keyword opens a clause only at paren depth 0, outside
# literals, not after a dot (``system.settings``) or right after ``AS``
# (``arr AS format`` is an alias) — nor is the FROM of ``IS [NOT]
# DISTINCT FROM`` a clause — and only at a rank no lower than the
# clause before it: so the FROM of ``WITH FILL FROM 1 TO 5`` stays in
# ORDER BY. Clauses of one rank may repeat and mix: the FROM section
# (FROM, its joins, each ARRAY JOIN, LATERAL VIEW, SAMPLE) and the row
# limits (LIMIT, LIMIT BY, OFFSET, FETCH). A set operation (rank -1)
# ends a branch; the next branch starts over at SELECT. FORMAT <name>
# and SETTINGS k = v count only at the end of the level (not a column
# named format in ORDER BY ... DESC), WINDOW only as ``WINDOW
# name AS``, and the words a column may be named (LIMIT, OFFSET, FETCH,
# SAMPLE) only before the shape of their clause; SAMPLE's own OFFSET
# belongs to SAMPLE.
_CLAUSES = (
    ("SELECT", 0, r"SELECT"),
    ("FROM", 1, r"FROM"),
    ("ARRAY JOIN", 1, r"(?:LEFT\s+)?ARRAY\s+JOIN"),
    ("JOIN", 1, r"(?:(?:GLOBAL|NATURAL|LEFT|RIGHT|FULL|INNER|OUTER|CROSS"
                r"|SEMI|ANTI|ANY|ALL|ASOF|PASTE)\s+)*JOIN"),
    ("LATERAL VIEW", 1, r"LATERAL\s+VIEW"),
    ("SAMPLE", 1, r"SAMPLE(?=\s+[\d.])(?:\s+[\d.]+(?:\s*/\s*[\d.]+)?\s+OFFSET)?"),
    ("PREWHERE", 2, r"PREWHERE"),
    ("WHERE", 3, r"WHERE"),
    ("GROUP BY", 4, r"GROUP\s+BY"),
    ("HAVING", 5, r"HAVING"),
    ("WINDOW", 6, r"WINDOW(?=\s+\w+\s+AS\b)"),
    ("QUALIFY", 7, r"QUALIFY"),
    ("ORDER BY", 8, r"ORDER\s+BY"),
    ("LIMIT", 9, r"LIMIT(?=\s*[\d(])"),
    ("OFFSET", 9, r"OFFSET(?=\s*[\d(])"),
    ("FETCH", 9, r"FETCH(?=\s+(?:FIRST|NEXT)\b)"),
    ("SETTINGS", 10, r"SETTINGS(?=\s+\w+\s*=[\w\s=,.'\"]*;?\s*$)"),
    ("FORMAT", 11, r"FORMAT(?=\s+(?!(?:ASC|DESC)\b)\w+\s*;?\s*$)"),
    ("UNION", -1, r"UNION(?:\s+(?:ALL|DISTINCT))?"),
    ("EXCEPT", -1, r"EXCEPT(?:\s+(?:ALL|DISTINCT))?(?=[\s(]*SELECT\b)"),
    ("INTERSECT", -1, r"INTERSECT(?:\s+(?:ALL|DISTINCT))?"),
)
_CLAUSE_OF = {f"c{i}": (name, rank) for i, (name, rank, _) in enumerate(_CLAUSES)}
_CLAUSE_RX = re.compile(
    r"(?<![\w.])(?:"
    + "|".join(f"(?P<c{i}>{pat})" for i, (_, _, pat) in enumerate(_CLAUSES))
    + r")\b",
    re.I,
)


@_lru_cache(maxsize=512)
def _clauses(sql: str):
    """The depth-0 clauses of one query level, found once per text:
    ``(spans, first)``. A span is ``(name, rank, start, body, end)``:
    the keyword starts at ``start``, its body runs from ``body`` (just
    past the keyword) to ``end`` (the next clause's start, or the end of
    the text). ``first`` maps a clause name to its first span, so a pass
    asks for its clause with one dict lookup and an absent clause costs
    no scan. Text before the first clause (a WITH list) is in no span.
    The result is shared through the cache: read it, never change it."""
    starts, ends, dpos, dval, _ = _scan_index(sql)
    found: list[tuple[str, int, int, int]] = []
    rank = 0
    for m in _CLAUSE_RX.finditer(sql):
        p = m.start()
        if dval[_bisect_right(dpos, p) - 1]:
            continue
        j = _bisect_right(starts, p) - 1
        if j >= 0 and p < ends[j]:
            continue
        name, r = _CLAUSE_OF[m.lastgroup]
        if 0 <= r < rank:
            continue
        j = p
        while j and sql[j - 1].isspace():
            j -= 1
        k = j
        while k and (sql[k - 1].isalnum() or sql[k - 1] == "_"):
            k -= 1
        prev = sql[k:j].upper()
        if prev == "AS" or (prev == "DISTINCT" and name == "FROM"):
            continue
        found.append((name, r, p, m.end()))
        rank = max(r, 0)
    spans = tuple(
        (name, r, p, body, found[k + 1][2] if k + 1 < len(found) else len(sql))
        for k, (name, r, p, body) in enumerate(found)
    )
    first: dict[str, tuple] = {}
    for span in spans:
        first.setdefault(span[0], span)
    return spans, first


# clauses that make a level read more than its one FROM relation
_MANY_RELATIONS = frozenset(
    ("JOIN", "ARRAY JOIN", "LATERAL VIEW", "UNION", "EXCEPT", "INTERSECT")
)


_SUBQUERY = re.compile(r"\(\s*(?:SELECT|WITH)\b", re.I)


def _each_level(sql: str, fn, inner=None) -> str:
    """``fn`` applied to every query level of ``sql``, innermost first:
    each parenthesized subquery or CTE body (``( SELECT ...`` /
    ``( WITH ...``, outside literals) is rewritten first, by ``inner``
    when given (at every depth below this one), and spliced back; then
    ``fn`` rewrites this level. Rewritten inner text is not re-scanned,
    so a generated wrapper is never re-entered."""
    idx = _scan_index(sql)
    out, pos = [], 0
    for m in _SUBQUERY.finditer(sql):
        o = m.start()
        if o < pos or _idx_in_string(idx, o):
            continue
        close = _call_end(sql, o)
        out.append(sql[pos: o + 1])
        out.append(_each_level(sql[o + 1: close], inner or fn))
        pos = close
    if out:
        out.append(sql[pos:])
        sql = "".join(out)
    return fn(sql)


def _split_top_commas(s: str) -> list[str]:
    # str.find + _scan_index bisect probes instead of a per-char
    # scan: this helper runs on every clause recursion
    # and dominated the ~5 ms translate() residue (r11 "not yet
    # optimized" #5). Identical semantics: a comma splits iff it sits at
    # paren depth 0 outside string literals.
    if "," not in s:
        p = s.strip()
        return [p] if p else []
    idx = _scan_index(s)
    parts, start = [], 0
    i = s.find(",")
    while i != -1:
        if _idx_depth(idx, i) == 0 and not _idx_in_string(idx, i):
            parts.append(s[start:i])
            start = i + 1
        i = s.find(",", i + 1)
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _strip_trailing(sql: str) -> tuple[str, str | None]:
    """Remove the FORMAT <name> and SETTINGS ... clauses (top level);
    returns the query and the format name."""
    first = _clauses(sql)[1]
    fm, sm = first.get("FORMAT"), first.get("SETTINGS")
    fmt = sql[fm[3]: fm[4]].split()[0].rstrip(";") if fm else None
    if fm or sm:
        sql = sql[: (sm or fm)[2]].rstrip()
    return sql.rstrip(";").rstrip(), fmt


def _rewrite_prewhere(sql: str) -> str:
    first = _clauses(sql)[1]
    pw = first.get("PREWHERE")
    if not pw:
        return sql
    cond = sql[pw[3]: pw[4]].strip()
    # Spark's parser rejects WHERE (ident) — a lone parenthesized
    # identifier parses as an assignment form (ASSIGNMENT_ARITY_
    # MISMATCH against the table width; verified on 4.1). A bare
    # single-token condition needs no wrapping (fuzz_compose, r11).
    wrapped = cond if re.fullmatch(r"`?\w+`?", cond) else f"({cond})"
    wm = first.get("WHERE")
    if wm:
        return (sql[: pw[2]] + sql[pw[4]: wm[2]] + "WHERE " + wrapped
                + " AND " + sql[wm[3]:])
    return sql[: pw[2]] + "WHERE " + wrapped + " " + sql[pw[4]:]


_FINAL = re.compile(
    r"\b(FROM|JOIN)\s+(\w+)(\s+AS\s+\w+|\s+(?!FINAL\b)\w+)?\s+FINAL\b",
    re.I,
)


def _rewrite_final(sql: str) -> str:
    # the registered <name> view already applies merge semantics
    return _sub_outside_strings(
        sql, _FINAL, lambda m: f"{m.group(1)} {m.group(2)}{m.group(3) or ''}",
        top=True,
    )


def _sample_predicate(key: str, fraction: float, offset: float = 0.0) -> str:
    """Deterministic md5 hash-range predicate: the [offset,
    offset + fraction) slice of the key's hash space (ClickHouse's
    ``SAMPLE f OFFSET o`` — disjoint offsets give disjoint panels)."""
    hashed = f"substring(md5(CAST({key} AS STRING)), 1, 15)"
    # an upper bound of 1.0 would format to 16 hex chars and break the
    # 15-char lexicographic compare — the top of the range needs no
    # bound at all
    top = offset + fraction >= 1.0
    hi = format(int(min(offset + fraction, 1.0) * (16**15)), "015x")
    if offset <= 0:
        return "TRUE" if top else f"{hashed} < '{hi}'"
    lo = format(int(offset * (16**15)), "015x")
    if top:
        return f"{hashed} >= '{lo}'"
    return f"({hashed} >= '{lo}' AND {hashed} < '{hi}')"


def _rewrite_sample(sql: str, specs: dict | None) -> str:
    m = _find_top(
        sql,
        r"\bFROM\s+(\w+)(?:\s+AS\s+(\w+)|\s+(?!FINAL\b|SAMPLE\b)(\w+))?"
        r"(\s+FINAL)?\s+SAMPLE\s+([0-9.]+)(\s*/\s*([0-9.]+))?"
        r"(?:\s+OFFSET\s+([0-9.]+)(\s*/\s*([0-9.]+))?)?",
    )
    if not m:
        return sql
    tbl = m.group(1)
    alias = m.group(2) or m.group(3) or tbl
    # ClickHouse accepts decimal (SAMPLE 0.1) and ratio (SAMPLE 1/10)
    # fraction spellings, each optionally with OFFSET in either form
    frac = float(m.group(5))
    if m.group(7):
        frac /= float(m.group(7))
    offset = float(m.group(8)) if m.group(8) else 0.0
    if m.group(10):
        offset /= float(m.group(10))
    if frac > 1.0:  # SAMPLE n rows form — not supported by a predicate
        raise ValueError("SAMPLE <n-rows> is not supported; use SAMPLE <0..1>")
    if not 0.0 <= offset <= 1.0:
        raise ValueError("SAMPLE OFFSET must be in [0, 1]")
    spec = (specs or {}).get(tbl)
    if spec is None or spec.sample_by is None:
        raise ValueError(f"table {tbl!r} has no SAMPLE BY clause known to the engine")
    key = spec.sample_by
    km = re.match(r"^(?:intHash\d+|cityHash64|xxHash64)\s*\(\s*(\w+)\s*\)$", key, re.I)
    if km:
        key = km.group(1)
    pred = _sample_predicate(key, frac, offset)
    sub = f"FROM (SELECT * FROM {tbl} WHERE {pred}) AS {alias}"
    return _rewrite_sample(sql[: m.start()] + sub + sql[m.end():], specs)


@_lru_cache(maxsize=64)
def _macro_alt(names: tuple) -> tuple[str, dict]:
    """(alternation pattern, lower->canonical map) for the registered
    macro names — cached on the name tuple so repeated translate()
    calls reuse one build (see _inline_ch_macros)."""
    return (
        r"\b(" + "|".join(map(re.escape, names)) + r")\s*\(",
        {n.lower(): n for n in names},
    )


def _inline_ch_macros(expr: str) -> str:
    """Expand registered ClickHouse SQL-macro calls textually. Spark
    refuses SQL UDFs inside a Generate (LATERAL VIEW explode), so an
    ARRAY JOIN item like ``splitByChar(' ', text)`` must become its
    macro body before the rewrite."""
    from ed_clickhouse_spark.functions.clickhouse import _SQL_SCALAR_ALIASES

    # ONE alternation scan over every registered macro name per pass
    # instead of one string scan per name (r11: ~300 scans -> 1); the
    # group tells us which macro matched, case-folded back to its key.
    # The alternation + lower map are LRU-cached on the (ordered) name
    # tuple (r12) — rebuilding them escaped every registered name on
    # every pass (~540 re.escape calls per translate()).
    alt, lower_map = _macro_alt(tuple(_SQL_SCALAR_ALIASES))
    rx = _rxc(alt, re.I)

    def expand(m):
        name = lower_map.get(m.group(1).lower())
        sig, body = _SQL_SCALAR_ALIASES[name]
        j = _call_end(m.string, m.end() - 1)
        args = _split_top_commas(m.string[m.end(): j])
        params = [
            p.strip().split()[0]
            for p in _split_top_commas(sig[sig.index("(") + 1: sig.index(") RETURNS")])
        ]
        if len(args) != len(params):
            # arity mismatch: leave the call for the registered SQL
            # UDF alias to resolve
            return None
        for p, a in sorted(zip(params, args), key=lambda t: -len(t[0])):
            body = _rxc(rf"\b{p}\b").sub(a.replace("\\", "\\\\"), body)
        return "(" + body + ")", j + 1

    # an expanded body may itself call macros: expand until none is left
    new = _sub_outside_strings(expr, rx, expand)
    while new != expr:
        expr, new = new, _sub_outside_strings(new, rx, expand)
    return expr


def _sub_outside_strings(sql: str, rx: re.Pattern, repl, top: bool = False) -> str:
    """re.sub that never touches matches inside string literals (nor,
    with ``top``, below paren depth 0). ``repl`` is the replacement text
    (taken verbatim) or a function of the match returning the text, a
    ``(text, end)`` pair that replaces through ``end`` (``m.string`` is
    the current text), or None to leave the match alone. The scan
    advances past each replacement, so a replacement containing text
    the pattern would match cannot loop."""
    pos = 0
    while True:
        idx = _scan_index(sql)
        for m in rx.finditer(sql, pos):
            p = m.start()
            if _idx_in_string(idx, p) or (top and _idx_depth(idx, p)):
                continue
            text = repl if repl.__class__ is str else repl(m)
            if text is not None:
                break
        else:
            return sql
        end = m.end()
        if text.__class__ is tuple:
            text, end = text
        sql = sql[:p] + text + sql[end:]
        pos = p + len(text)


def _collapse_ws_outside_strings(sql: str) -> str:
    """Collapse whitespace runs to one space — but never inside string
    literals, whose spacing is user data. Segment-wise regex over the
    cached _scan_index literal spans (r12) instead of a per-char
    scan — this ran once per translate() over the full
    SQL and was the last per-char scan on the hot path."""
    idx = _scan_index(sql)
    starts, ends = idx[0], idx[1]
    if not starts:
        return re.sub(r"\s+", " ", sql).strip()
    out: list[str] = []
    prev = 0
    for a, b in zip(starts, ends):
        out.append(re.sub(r"\s+", " ", sql[prev:a]))
        out.append(sql[a:b])
        prev = b
    out.append(re.sub(r"\s+", " ", sql[prev:]))
    return "".join(out).strip()


def _find_top_anywhere(
    s: str, pattern: str, pos: int = 0, flags: int = re.I
) -> re.Match | None:
    """Like _find_top but matches at any paren depth (still not inside
    string literals), at or after ``pos``. Case-insensitive by default;
    ``flags=0`` for the case-exact ClickHouse function names."""
    rx = _rxc(pattern, flags)
    idx = _scan_index(s)
    for m in rx.finditer(s, pos):
        if not _idx_in_string(idx, m.start()):
            return m
    return None


# -- the call-site rewrite primitive ---------------------------------------
#
# Every function-spelling rewrite is one rule in an ordered table run by
# _rewrite_calls. A rule is ``(name, action[, flags])``: ``name`` is a
# regex for the function name, matched as ``\bname\s*\(`` (case-exact
# unless ``flags`` has re.I), and ``action`` is one of
#
#   * an identifier (or ""): a RENAME of the name, arguments untouched;
#   * any other str: a template over the raw argument text ``{x}``;
#   * a dict arity -> template over the split arguments ``{0}``, ``{1}``,
#     ...; under the key None, the refusal text for any other arity, or
#     _PASS to leave such calls alone (default: a generic refusal);
#   * a handler ``fn(sql, m, close, args)`` -> the replacement of
#     ``sql[m.start(): close + 1]``, a ``(replacement, end)`` pair to
#     replace ``sql[m.start(): end]`` (a trailing ``(...)`` or
#     ``OVER (...)`` consumed via _trailing_paren / _trailing_over), or
#     None to leave the call alone.
#
# Table order is pass order: each rule rewrites every hit before the next
# rule runs. After a splice the scan resumes at the START of the
# replacement (so a rewrite that emits another spelling of the same rule
# is seen again, and nested calls in its arguments are reached); a call
# left alone resumes just past its name.

_PASS = object()  # arity-table refusal slot: unlisted arities pass through


def _needle(name: str) -> str:
    """Literal text every hit of a name pattern contains: its leading
    word (minus an optional last letter), or "" for an alternation."""
    m = re.match(r"\(?([A-Za-z_]\w*)(.?)", name)
    if not m or m.group(2) == "|":
        return ""
    return m.group(1)[:-1] if m.group(2) and m.group(2) in "?*{" else m.group(1)


def _rules(*entries) -> tuple:
    """Compile ``(name, action[, flags])`` entries for _rewrite_calls."""
    out = []
    for name, action, *flags in entries:
        flags = flags[0] if flags else 0
        if isinstance(action, str):
            kind = 0 if re.fullmatch(r"\w*", action) else 1
        else:
            kind = 2 if isinstance(action, dict) else 3
        needle = _needle(name)
        ci = bool(flags & re.I)
        out.append((needle.lower() if ci else needle, ci,
                    re.compile(rf"\b{name}\s*\(", flags), name, kind, action))
    return tuple(out)


def _rewrite_calls(sql: str, rules: tuple) -> str:
    """Run compiled rules (see the table contract above) over ``sql``.
    Hits inside string literals are skipped; a rule whose needle is not
    in the text costs one substring test."""
    for needle, ci, rx, name, kind, action in rules:
        if needle not in (sql.lower() if ci else sql):
            continue
        pos = 0
        while True:
            m = rx.search(sql, pos)
            if m is None:
                break
            start = m.start()
            if _idx_in_string(_scan_index(sql), start):
                pos = m.end()
                continue
            if kind == 0:
                sql = sql[:start] + action + "(" + sql[m.end():]
                pos = start
                continue
            close = _call_end(sql, m.end() - 1)
            end = close + 1
            if kind == 1:
                repl = action.format(x=sql[m.end():close])
            else:
                args = _split_top_commas(sql[m.end():close])
                if kind == 2:
                    repl = action.get(len(args))
                    if repl is None:
                        msg = action.get(None)
                        if msg is _PASS:
                            pos = m.end()
                            continue
                        raise ValueError(msg or (
                            f"{name} expects {sorted(k for k in action if k is not None)}"
                            f" argument(s), got {len(args)}"))
                    repl = repl.format(*args)
                else:
                    repl = action(sql, m, close, args)
                    if repl is None:
                        pos = m.end()
                        continue
                    if repl.__class__ is tuple:
                        repl, end = repl
            sql = sql[:start] + repl + sql[end:]
            pos = start
    return sql


def _trailing_paren(sql: str, close: int) -> tuple[int, int] | None:
    """(open, close) of a ``(...)`` right after ``close`` (whitespace
    allowed): the argument list of a parametric ``f(p)(x)`` call."""
    rest = sql[close + 1:]
    j = close + 1 + len(rest) - len(rest.lstrip())
    if sql.startswith("(", j):
        return j, _call_end(sql, j)
    return None


_OVER_RX = re.compile(r"(?is)\s*OVER\s*\(")


def _trailing_over(sql: str, close: int) -> tuple[int, int] | None:
    """(open, close) of the window spec of an ``OVER (...)`` right after
    ``close``."""
    om = _OVER_RX.match(sql, close + 1)
    if om is None:
        return None
    return om.end() - 1, _call_end(sql, om.end() - 1)


_ARRAY_JOIN_FN = re.compile(r"\barrayJoin\s*\(", re.I)
_AS_ALIAS = re.compile(r"\s+AS\s+(\w+)", re.I)


def _rewrite_array_join_fn(sql: str) -> str:
    """ClickHouse's FUNCTION-form ``arrayJoin(expr)`` in the SELECT
    list → the clause form (``ARRAY JOIN (expr) AS alias`` appended at
    the end of the FROM section), which _rewrite_array_join then turns
    into LATERAL VIEW explode. An ``AS alias`` after the call is
    honored; otherwise a ``__ajf<i>`` alias names the output column (CH
    would name it ``arrayJoin(expr)`` — aliasing is the portable
    spelling). Runs before WHERE reads SELECT aliases, so a WHERE on the
    alias filters the generated rows. Several calls chain (a cross
    product, as in ClickHouse). Top-level select items only: arrayJoin
    nested inside an aggregate has no Spark equivalent and surfaces
    Spark's generator error."""
    if "arrayjoin" not in sql.lower():
        return sql
    fm = _clauses(sql)[1].get("FROM")
    lifted: list[str] = []

    def lift(m):
        s = m.string
        close = _call_end(s, m.end() - 1)
        am = _AS_ALIAS.match(s, close + 1)
        alias = am.group(1) if am else f"__ajf{len(lifted)}"
        end = am.end() if am else close + 1
        expr = s[m.end(): close]
        if not fm:
            # FROM-less scalar SELECT: Spark allows a bare generator
            return f"explode({expr}) AS {alias}", end
        lifted.append(f" ARRAY JOIN ({expr}) AS {alias}")
        return alias, end

    sql = _sub_outside_strings(sql, _ARRAY_JOIN_FN, lift)
    if not lifted:
        return sql
    # the FROM section (rank 1: FROM, its joins, ARRAY JOINs and LATERAL
    # VIEWs) ends at the first later clause of another rank
    spans, first = _clauses(sql)
    pos = next((span[2] for span in spans
                if span[2] > first["FROM"][2] and span[1] != 1), len(sql))
    return sql[:pos].rstrip() + "".join(lifted) + " " + sql[pos:].lstrip()


def _unshadow_bare_items(head: str, names: list[str]) -> str:
    """Rename the source columns a bare ``ARRAY JOIN xs`` item shadows.

    In ClickHouse ``xs`` then means the element, but Spark sees both the
    source column and the generator output as ``xs`` (AMBIGUOUS_REFERENCE).
    When FROM is one relation, ``head`` (the query up to the ARRAY JOIN)
    reads it through ``(SELECT * EXCEPT (xs), xs AS __ajs0 FROM rel)``
    under the relation's own name; the items then read ``__ajs<k>``."""
    spans, first = _clauses(head)
    fm = first.get("FROM")
    rel = head[fm[3]:].strip() if fm else ""
    rm = re.fullmatch(
        r"(\w+(?:\.(\w+))?|\(.*\))(?:\s+(?:AS\s+)?(\w+))?", rel, re.I | re.S
    )
    if not rm or fm is not spans[-1] or _find_top(rel, ","):
        raise ValueError(
            f"ARRAY JOIN item {names[0]!r} has no alias and FROM is not a"
            f" single relation: spell it `{names[0]} AS <alias>`"
        )
    alias = rm.group(3) or rm.group(2) or (rm.group(1) if rel[0] != "(" else "")
    cols = ", ".join(f"{n} AS __ajs{k}" for k, n in enumerate(names))
    return (
        head[: fm[3]]
        + f" (SELECT * EXCEPT ({', '.join(names)}), {cols} FROM {rel})"
        + (f" AS {alias} " if alias else " ")
    )


def _rewrite_array_join(sql: str) -> str:
    spans = _clauses(sql)[0]
    # last clause first: each splice leaves the earlier spans in place
    for name, _, start, body, end in reversed(spans):
        if name != "ARRAY JOIN":
            continue
        outer = "OUTER " if sql[start] in "lL" else ""  # LEFT ARRAY JOIN
        parsed, bare = [], []
        for item in _split_top_commas(sql[body:end]):
            am = re.match(r"^(.*?)\s+AS\s+(\w+)\s*$", item, re.I | re.S)
            expr, alias = (am.group(1).strip(), am.group(2)) if am else (item, item)
            if expr == alias and re.fullmatch(r"\w+", expr):
                # a bare item (or `xs AS xs`) names the element after the
                # source column it shadows
                bare.append(expr)
            elif not am:
                raise ValueError(f"ARRAY JOIN item {item!r} needs an AS alias")
            parsed.append((_inline_ch_macros(expr), alias))
        head = sql[:start]
        if bare:
            head = _unshadow_bare_items(head, bare)
            for k, name in enumerate(bare):
                rx = _rxc(rf"(?<![.\w]){name}\b")
                parsed = [
                    (_sub_outside_strings(e, rx, f"__ajs{k}"), a)
                    for e, a in parsed
                ]
        if len(parsed) == 1:
            expr, alias = parsed[0]
            view = f"LATERAL VIEW {outer}explode({expr}) __aj0 AS {alias}"
        else:
            # Multiple items walk PARALLEL arrays in ClickHouse, so they
            # zip: one generator that evaluates each array once per input
            # row (chained explodes would cross-product). A NULL array
            # counts as empty, so the others still produce rows; shorter
            # arrays pad with NULL (CH errors on unequal sizes — lenient
            # superset).
            zipped = ", ".join(f"coalesce({e}, array())" for e, _ in parsed)
            view = (
                f"LATERAL VIEW {outer}inline(arrays_zip({zipped})) __aj AS "
                + ", ".join(a for _, a in parsed)
            )
        sql = head + view + " " + sql[end:]
    return sql


_STAR_EXCEPT_BARE = re.compile(
    r"(\*\s*EXCEPT)\s+(?!\()(?!(?:ALL|DISTINCT|SELECT)\b)(`[^`]+`|\w+)", re.I
)
_STAR_REPLACE = re.compile(r"\*\s*(EXCEPT\s*\(([^)]*)\)\s*)?REPLACE\s*\(", re.I)


def _star_replace(m):
    """``* [EXCEPT (a)] REPLACE (expr AS col, ...)`` → ``* EXCEPT (a,
    col, ...), expr AS col, ...``."""
    close1 = _call_end(m.string, m.end() - 1)
    items = _split_top_commas(m.string[m.end(): close1])
    names = []
    for it in items:
        am = re.search(r"\bAS\s+`?(\w+)`?\s*$", it, re.I)
        if not am:
            raise ValueError("* REPLACE items must be 'expr AS column'")
        names.append(am.group(1))
    existing = (m.group(2) or "").strip()
    exc = ", ".join(([existing] if existing else []) + names)
    return f"* EXCEPT ({exc}), {', '.join(items)}", close1 + 1


def _rewrite_star_modifiers(sql: str, specs: dict | None = None) -> str:
    """ClickHouse SELECT-list star modifiers.

    ``* REPLACE (expr AS col, ...)`` is schema-free: it becomes
    ``* EXCEPT (col, ...), expr AS col, ...`` (Spark supports EXCEPT
    natively). Position deviation: replaced columns move to the end of
    the select list — ClickHouse keeps them in place — which is
    invisible to name-keyed consumers (and the oracle compare sorts by
    name). An existing EXCEPT merges with the replaced names.

    ``* APPLY (f)`` and ``COLUMNS('re')`` need the table schema to
    expand: when the enclosing SELECT reads ONE table registered in
    ``specs`` (the same table metadata SAMPLE/FINAL use), they expand
    against that schema (_expand_apply_columns); otherwise they refuse
    loudly with the explicit-column spelling instead of a cryptic parse
    error.
    """
    # CH's bare single-column form `* EXCEPT col` (batch-81) — Spark
    # only parses the parenthesized list; the set-operation EXCEPT is
    # excluded by the star anchor and the identifier guard
    sql = _sub_outside_strings(
        sql, _STAR_EXCEPT_BARE, lambda m: f"{m.group(1)} ({m.group(2)})"
    )
    sql = _sub_outside_strings(sql, _STAR_REPLACE, _star_replace)
    sql = _expand_apply_columns(sql, specs)
    for bad, hint in (
        (r"\bAPPLY\s*\(", "* APPLY (f) expands only against a SELECT"
         " reading one registered table — spell the aggregated columns"
         " explicitly"),
        (r"\bCOLUMNS\s*\(", "COLUMNS('re') expands only against a SELECT"
         " reading one registered table — list the matching columns"
         " explicitly"),
    ):
        if _find_top_anywhere(sql, bad):
            raise ValueError(hint)
    return sql


def _level_star_columns(sql: str, specs: dict | None) -> list[str] | None:
    """The ``SELECT *`` column set of ONE query level: resolvable when
    the top-level FROM names a single table found in ``specs`` (no
    join, no derived table). Per ClickHouse semantics the star set
    excludes MATERIALIZED and ALIAS columns. ``specs`` values are
    ddl.TableSpec (the engine path) or a plain list of column names
    (the ad-hoc path)."""
    if not specs:
        return None
    spans, first = _clauses(sql)
    fm = first.get("FROM")
    # one table: a join, an ARRAY JOIN, a set operation or a comma
    # join (`FROM a, b` / `FROM events e, users u`) means more than one
    # relation contributes to the star set — not resolvable from one
    # spec, so bail out to the loud refusal
    if not fm or any(span[0] in _MANY_RELATIONS for span in spans):
        return None
    body = sql[fm[3]: fm[4]].lstrip()
    tm = re.match(r"`?(\w+)`?", body)
    if not tm or _find_top(body[tm.end():], ","):
        return None
    spec = specs.get(tm.group(1))
    if spec is None:
        return None
    if isinstance(spec, (list, tuple)):
        return list(spec)
    hidden = set(getattr(spec, "alias_cols", ()) or ())
    for c, (kind, _expr) in (getattr(spec, "col_exprs", {}) or {}).items():
        if kind in ("MATERIALIZED", "ALIAS"):
            hidden.add(c)
    return [f.name for f in spec.schema.fields if f.name not in hidden]


def _apply_chain(sql: str, pos: int) -> tuple[list[str], list[str], int]:
    """Parse trailing ``[EXCEPT (cols)] [APPLY (fn)]...`` modifiers
    starting at ``pos``; returns (except_names, apply_fns, end)."""
    excepts: list[str] = []
    fns: list[str] = []
    while True:
        em = re.match(r"\s*EXCEPT\s*\(", sql[pos:], re.I)
        am = re.match(r"\s*APPLY\s*\(", sql[pos:], re.I)
        if not em and not am:
            return excepts, fns, pos
        open1 = sql.index("(", pos + (em or am).end() - 1)
        close1 = _call_end(sql, open1)
        body = sql[open1 + 1: close1].strip()
        if em:
            excepts += [c.strip().strip("`") for c in body.split(",")]
        else:
            if "->" in body:
                raise ValueError(
                    "APPLY with a lambda is not translatable — apply the"
                    " expression to explicit columns instead"
                )
            fns.append(body)
        pos = close1 + 1


def _expand_apply_columns(sql: str, specs: dict | None) -> str:
    """Expand ``* [EXCEPT (...)] APPLY (f)...`` and ``COLUMNS('re')
    [EXCEPT (...)|APPLY (f)]...`` against the level's registered table
    schema (_level_star_columns). Output columns are named exactly as
    ClickHouse names them — ``f(col)`` / ``g(f(col))`` — via backquoted
    aliases, so a migrated monitoring query keeps its column names.
    Parametric fns (``quantile(0.5)``) expand to the CH parametric
    spelling and are translated by the later agg-spelling pass.
    Unresolvable sites are left in place for the loud refusal in
    _rewrite_star_modifiers."""
    # each level resolves its own FROM
    return _each_level(sql, _partial(_expand_level_columns, specs=specs))


def _expand_level_columns(sql: str, specs: dict | None) -> str:
    if not (
        _find_top(sql, r"\bAPPLY\s*\(") or _find_top(sql, r"\bCOLUMNS\s*\(")
    ):
        return sql
    cols = _level_star_columns(sql, specs)
    if cols is None:
        return sql

    def columns(m):
        close1 = _call_end(m.string, m.end() - 1)
        rx = m.string[m.end(): close1].strip().strip("'\"")
        excepts, fns, end = _apply_chain(m.string, close1 + 1)
        base = [c for c in cols if re.search(rx, c) and c not in excepts]
        if not base:
            raise ValueError(
                f"COLUMNS({rx!r}) matches no column of the FROM table"
            )
        return _render_applied(base, fns), end

    def star_apply(m):
        excepts = [
            c.strip().strip("`") for c in (m.group(1) or "").split(",") if c.strip()
        ]
        more_exc, fns, end = _apply_chain(m.string, m.end())
        base = [c for c in cols if c not in excepts and c not in more_exc]
        return _render_applied(base, fns), end

    sql = _sub_outside_strings(sql, _COLUMNS_CALL, columns, top=True)
    return _sub_outside_strings(sql, _STAR_APPLY, star_apply, top=True)


_COLUMNS_CALL = re.compile(r"\bCOLUMNS\s*\(", re.I)
_STAR_APPLY = re.compile(r"\*\s*(?:EXCEPT\s*\(([^)]*)\)\s*)?(?=APPLY\s*\()", re.I)


def _render_applied(base: list[str], fns: list[str]) -> str:
    items = []
    for c in base:
        expr, name = c, c
        for fn in fns:
            expr = f"{fn}({expr})"
            name = f"{fn}({name})"
        items.append(expr if not fns else f"{expr} AS `{name}`")
    return ", ".join(items)


def _rewrite_totals(sql: str) -> str:
    m = _find_top(sql, r"\bGROUP\s+BY\b")
    if not m:
        return sql
    tail = sql[m.end():]
    tm = _find_top(tail, r"\bWITH\s+TOTALS\b")
    if not tm:
        return sql
    cols = tail[: tm.start()].strip()
    rest = tail[tm.end():]
    return (
        sql[: m.start()]
        + f"GROUP BY GROUPING SETS (({cols}), ())"
        + rest
    )


def _rewrite_limit_with_ties(sql: str) -> str:
    """``ORDER BY <key> [ASC|DESC] LIMIT n WITH TIES`` → keep the top n
    rows PLUS every row tying the n-th sort key.  Spelled as a sort-key
    threshold from a scalar subquery over the ordered top-n (a
    distributed TakeOrderedAndProject) rather than a global rank window
    — the source scan just gains a comparison filter.  Single sort key
    only (a mixed-direction multi-key threshold is not expressible as
    one comparison); others refuse loudly."""
    m = _find_top(sql, r"\bLIMIT\s+(\d+)\s+WITH\s+TIES\s*$")
    if not m:
        return sql
    n = int(m.group(1))
    head = sql[: m.start()].strip()
    om = _find_top(head, r"\bORDER\s+BY\b")
    if not om:
        raise ValueError("LIMIT n WITH TIES needs an ORDER BY")
    order = head[om.end():].strip()
    inner = head[: om.start()].strip()
    km = re.fullmatch(r"(.+?)(?:\s+(ASC|DESC))?", order, re.I | re.S)
    key, direction = km.group(1).strip(), (km.group(2) or "ASC").upper()
    if _split_top_commas(key) != [key]:
        raise ValueError(
            "LIMIT n WITH TIES translates with a single ORDER BY key only"
        )
    agg, cmp_op = ("max", "<=") if direction == "ASC" else ("min", ">=")
    probe = (
        f"(SELECT {agg}(__ch_k) FROM (SELECT ({key}) AS __ch_k"
        f" FROM ({inner}) AS __wt_i ORDER BY __ch_k {direction}"
        f" LIMIT {n}) AS __wt_k)"
    )
    return (
        f"SELECT * FROM ({inner}) AS __wt"
        f" WHERE ({key}) {cmp_op} {probe}"
        f" ORDER BY ({key}) {direction}"
    )


def _rewrite_limit_offset(sql: str) -> str:
    """ClickHouse ``LIMIT offset, count`` → Spark ``LIMIT count OFFSET
    offset``. Only the comma form rewrites; plain LIMIT n and LIMIT n
    BY are untouched (BY is handled by _rewrite_limit_by)."""
    m = _find_top(sql, r"\bLIMIT\s+(\d+)\s*,\s*(\d+)\b")
    if not m:
        return sql
    off, n = m.group(1), m.group(2)
    return sql[: m.start()] + f"LIMIT {n} OFFSET {off}" + sql[m.end():]


def _rewrite_distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (c1, c2) ...`` (ClickHouse/Postgres
    extension) ≡ ``LIMIT 1 BY c1, c2``: keep the first row per key
    under the query's ORDER BY. Rewritten to the LIMIT BY spelling and
    handed to _rewrite_limit_by (which must run after)."""
    m = _find_top(sql, r"\bSELECT\s+DISTINCT\s+ON\s*\(")
    if not m:
        return sql
    open1 = sql.index("(", m.end() - 1)
    close1 = _call_end(sql, open1)
    cols = sql[open1 + 1: close1].strip()
    head = sql[: m.start()] + "SELECT "
    body = sql[close1 + 1:].lstrip()
    # LIMIT 1 BY goes before the final row limit, else at the end.  The
    # trailing limit may be any of LIMIT n / LIMIT n OFFSET m /
    # ClickHouse's LIMIT off, n — all must stay AFTER the per-key dedup.
    lm = _find_top(
        body, r"\bLIMIT\s+\d+\s*(?:OFFSET\s+\d+\s*|,\s*\d+\s*)?$"
    )
    if lm:
        body = body[: lm.start()] + f" LIMIT 1 BY {cols} " + body[lm.start():]
    else:
        body = body + f" LIMIT 1 BY {cols}"
    return head + body


_LIMIT_BY = re.compile(
    r"LIMIT\s+(\d+)(?:\s*,\s*(\d+)|\s+OFFSET\s+(\d+))?\s+BY\s+", re.I
)


def _rewrite_limit_by(sql: str) -> str:
    # LIMIT n [OFFSET m] BY cols: skip m rows per group, keep n; the
    # comma form LIMIT m, n BY puts the offset FIRST, like MySQL. The
    # BY list runs to the next clause (the query's own row limit).
    m = stop = None
    for span in _clauses(sql)[0]:
        if m is None and span[0] == "LIMIT":
            m = _LIMIT_BY.match(sql, span[2])
        elif m and span[2] >= m.end():
            stop = span[2]
            break
    if not m:
        return sql
    n, off = int(m.group(1)), int(m.group(3) or 0)
    if m.group(2):
        n, off = int(m.group(2)), n
    cols = sql[m.end(): stop].strip()
    outer_limit = sql[stop:].strip() if stop else ""
    inner = (sql[: m.start()]).strip()
    # the window needs an order: reuse the query's ORDER BY if present
    # (ClickHouse applies LIMIT BY after ORDER BY), else storage order
    # is not reproducible — require one.
    om = _find_top(inner, r"\bORDER\s+BY\b")
    if om:
        order = inner[om.end():].strip()
        inner_wo_order = inner[: om.start()].strip()
    else:
        raise ValueError("LIMIT n BY needs an ORDER BY for deterministic results")
    # ORDER BY columns the select list dropped (e.g. DISTINCT ON (g)
    # ... ORDER BY g, v DESC with v unselected) must survive into the
    # window subquery: append the bare missing identifiers to the
    # inner projection and EXCEPT them back out
    extra: list[str] = []
    names = _select_items(inner_wo_order)
    if names is not None:
        lowered = {x.lower() for x in names}
        for item in _split_top_commas(order):
            ident = re.sub(
                r"(?i)\s+(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\b", "",
                item,
            ).strip()
            bm = re.match(r"^(?:\w+\.)?(\w+)$", ident)
            if bm and bm.group(1).lower() not in lowered:
                if bm.group(1) not in extra:
                    extra.append(bm.group(1))
    if extra:
        fm2 = _find_top(inner_wo_order, r"\bFROM\b")
        if fm2:
            inner_wo_order = (
                inner_wo_order[: fm2.start()].rstrip()
                + ", " + ", ".join(extra) + " "
                + inner_wo_order[fm2.start():]
            )
        else:
            extra = []
    drop = ", ".join(["__rn_lb"] + extra)
    cond = (
        f"__rn_lb <= {n}" if off == 0
        else f"__rn_lb > {off} AND __rn_lb <= {off + n}"
    )
    return (
        f"SELECT * EXCEPT ({drop}) FROM ("
        f"SELECT __lb.*, row_number() OVER "
        f"(PARTITION BY {cols} ORDER BY {order}) AS __rn_lb "
        f"FROM ({inner_wo_order}) AS __lb"
        f") WHERE {cond} ORDER BY {order} {outer_limit}"
    ).strip()


def _select_items(sql: str) -> list[str] | None:
    """Output column names of a top-level SELECT list (alias, or the
    bare column name); None when any item is not confidently nameable."""
    m = _find_top(sql, r"^\s*SELECT\s+(DISTINCT\s+)?")
    if not m:
        return None
    tail = sql[m.end():]
    fm = _find_top(tail, r"\bFROM\b")
    if not fm:
        return None
    names = []
    for item in _split_top_commas(tail[: fm.start()]):
        am = re.match(r"^.*\s+AS\s+(\w+)\s*$", item, re.I | re.S)
        if am:
            names.append(am.group(1))
            continue
        bare = re.match(r"^(?:\w+\.)?(\w+)$", item.strip())
        if not bare:
            return None
        names.append(bare.group(1))
    return names


_FILL_STEP_RE = re.compile(
    r"^INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR)S?$",
    re.I,
)


def _fill_interval(im: "re.Match") -> tuple[int, str]:
    """Normalize a STEP INTERVAL match to a Spark-supported (n, unit):
    WEEK -> 7 DAY, QUARTER -> 3 MONTH."""
    n_, unit = int(im.group(1)), im.group(2).upper()
    if unit == "WEEK":
        return n_ * 7, "DAY"
    if unit == "QUARTER":
        return n_ * 3, "MONTH"
    return n_, unit


def _rewrite_with_fill(sql: str) -> str:
    """``ORDER BY <col> WITH FILL FROM <a> TO <b> [STEP <s>]
    [INTERPOLATE [(col [AS col], ...)]]`` → a generated spine
    LEFT-JOINed to the query, missing measures coalesced to 0
    (ClickHouse fills with the column DEFAULT, which is 0 for the
    numeric measures this clause is used with). TO is exclusive, as in
    ClickHouse. Supports numeric steps and ``STEP INTERVAL n DAY``
    over dates.

    INTERPOLATE carries the previous present value into filled rows
    (bare = every measure; a parenthesized list limits it) via a
    last_value-ignore-nulls window over the spine order — inherently
    sequential, exactly like ClickHouse's own fill pass, and bounded
    by the spine length, not the fact table. Only the identity form
    translates: ``col AS <expr>`` with a non-identity expression is
    iterative (each filled row feeds the next) and refuses loudly —
    use the DataFrame gap-fill operator (q130) for that."""
    interp: set[str] | None = None  # None = no clause; empty set = ALL
    mi = _find_top(sql, r"\bINTERPOLATE(?:\s*\(([^)]*)\))?\s*$")
    if mi:
        body = mi.group(1)
        names: set[str] = set()
        if body is not None:
            for e in _split_top_commas(body):
                em = re.match(
                    r"^\s*`?(\w+)`?\s*(?:AS\s+(.+?))?\s*$", e.strip(),
                    re.I | re.S,
                )
                if not em:
                    raise ValueError(f"INTERPOLATE entry {e!r} not supported")
                cname, expr = em.group(1), em.group(2)
                if expr is not None and expr.strip().strip("`") != cname:
                    raise ValueError(
                        "INTERPOLATE with a non-identity expression is"
                        " iterative — use the DataFrame gap-fill operator"
                        " (q130_gapfill_interpolate)"
                    )
                names.add(cname)
            if not names:
                raise ValueError("INTERPOLATE () needs at least one column")
        interp = names  # empty set (bare form) = all measures
        sql = sql[: mi.start()].rstrip()
    m = _find_top(
        sql,
        r"\bORDER\s+BY\s+(\w+)\s+WITH\s+FILL\s+FROM\s+(.+?)\s+TO\s+(.+?)"
        r"(?:\s+STEP\s+(.+?))?\s*$",
    )
    if interp is not None and not m and not _find_top(
        sql, r"\bORDER\s+BY\s+(\w+)\s+WITH\s+FILL(?:\s+STEP\s+(.+?))?\s*$"
    ):
        raise ValueError("INTERPOLATE requires ORDER BY ... WITH FILL")

    def _measure(c: str, fill_col: str, qref: str = "__q") -> str:
        if interp is not None and (not interp or c in interp):
            return (
                f"coalesce(last_value({qref}.{c}, true) OVER ("
                f"ORDER BY __spine.{fill_col}"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)"
                f" AS {c}"
            )
        return f"coalesce({qref}.{c}, 0) AS {c}"
    if not m:
        # bare ORDER BY col WITH FILL [STEP s]: bounds come from the
        # result itself (ClickHouse fills between the present min and
        # max, both inclusive) — scalar subqueries over a CTE of the
        # query, so the inner runs once per bound probe only
        m2 = _find_top(
            sql, r"\bORDER\s+BY\s+(\w+)\s+WITH\s+FILL(?:\s+STEP\s+(.+?))?\s*$"
        )
        if not m2:
            return sql
        col, step = m2.group(1), m2.group(2)
        inner = sql[: m2.start()].strip()
        cols = _select_items(inner)
        if cols is None or col not in cols:
            raise ValueError(
                "WITH FILL needs a plainly-aliased select list containing "
                "the fill column"
            )
        im = _FILL_STEP_RE.match((step or "").strip())
        if im:
            n_, unit = _fill_interval(im)
            step_sql = f", INTERVAL {n_} {unit}"
        else:
            step_sql = f", {step.strip()}" if step else ""
        seq = (
            f"sequence((SELECT min({col}) FROM __q),"
            f" (SELECT max({col}) FROM __q){step_sql})"
        )
        measures = ", ".join(
            _measure(c, col) for c in cols if c != col
        )
        return (
            f"WITH __q AS ({inner})"
            f" SELECT __spine.{col} AS {col}"
            + (", " + measures if measures else "")
            + f" FROM (SELECT explode({seq}) AS {col}) AS __spine"
            f" LEFT JOIN __q ON __spine.{col} = __q.{col}"
            f" ORDER BY {col}"
        )
    col, lo, hi, step = m.group(1), m.group(2).strip(), m.group(3).strip(), m.group(4)
    inner = sql[: m.start()].strip()
    cols = _select_items(inner)
    if cols is None or col not in cols:
        raise ValueError(
            "WITH FILL needs a plainly-aliased select list containing the "
            "fill column"
        )
    im = _FILL_STEP_RE.match((step or "").strip())
    if im:
        # TO is exclusive: back the bound off by the axis granularity
        # (1 day for date axes, 1 second for timestamp axes) — correct
        # for ANY step size, unlike subtracting a whole step
        n_, unit = _fill_interval(im)
        if unit in ("SECOND", "MINUTE", "HOUR"):
            cast_t, eps = "TIMESTAMP", "INTERVAL 1 SECOND"
        else:
            cast_t, eps = "DATE", "INTERVAL 1 DAY"
        seq = (
            f"sequence(CAST({lo} AS {cast_t}),"
            f" CAST({hi} AS {cast_t}) - {eps}, INTERVAL {n_} {unit})"
        )
    else:
        s = step.strip() if step else "1"
        seq = f"sequence({lo}, ({hi}) - 1, {s})"
    measures = ", ".join(_measure(c, col) for c in cols if c != col)
    return (
        f"SELECT __spine.{col} AS {col}"
        + (", " + measures if measures else "")
        + f" FROM (SELECT explode({seq}) AS {col}) AS __spine"
        f" LEFT JOIN ({inner}) AS __q ON __spine.{col} = __q.{col}"
        f" ORDER BY {col}"
    )


# remote-IO table functions: without this check Spark would die on an
# opaque unresolved-TVF error; the engine's read path is sources/io.py
# (spark.read with options) — refuse with that pointer
_IO_TABLE_FUNCTIONS = (
    "file", "url", "s3", "s3Cluster", "hdfs", "azureBlobStorage",
    "gcs", "remote", "remoteSecure", "cluster", "clusterAllReplicas",
    "merge", "mysql", "postgresql", "mongodb", "jdbc", "odbc",
    "deltaLake", "iceberg", "hudi",
)


def _refuse_io_table_functions(sql: str) -> str:
    """``FROM file(...)/s3(...)/remote(...)`` and friends raise loudly
    naming sources/io.py — a reference user's federated reads map to
    spark.read (format/options/JDBC), not to a SQL spelling here."""
    for name in _IO_TABLE_FUNCTIONS:
        m = _find_top_anywhere(
            sql, rf"\b(?:FROM|JOIN)\s+{name}\s*\("
        )
        if m:
            raise ValueError(
                f"the {name}() table function is not SQL-translatable"
                " — read the source with sources/io.py / spark.read"
                " and register a view"
            )
    # generator/testing TVFs and statement forms with no Spark twin
    for name, alt in (
        ("generateRandom", "the rand/randNormal/randPoisson scalar"
                           " family over numbers(N)"),
        ("input", "transforming the DataFrame before Engine.insert"
                  " (input() is an insert-time cast)"),
        ("loop", "CROSS JOIN numbers(N) for bounded repetition"),
        ("fuzzQuery", "nothing — a ClickHouse testing TVF"),
        ("fuzzJSON", "nothing — a ClickHouse testing TVF"),
        ("viewIfPermitted", "view(SELECT ...) — there is no grant"
                            " model to gate on here (batch-74)"),
    ):
        if _find_top_anywhere(sql, rf"\b(?:FROM|JOIN)\s+{name}\s*\("):
            raise ValueError(
                f"the {name}() table function is not SQL-translatable"
                f" — use {alt}"
            )
    if re.match(r"\s*WATCH\b", sql, re.I):
        raise ValueError(
            "WATCH (live views) is not implemented — use"
            " streaming/pipeline.py readStream + matview partials"
        )
    if re.match(r"\s*EXISTS\s+(TABLE|VIEW|DATABASE|DICTIONARY)?\s*\w",
                sql, re.I):
        raise ValueError(
            "EXISTS TABLE is not SQL-translatable — use"
            " spark.catalog.tableExists"
        )
    if _find_top_anywhere(sql, r"(?i)\bINTO\s+OUTFILE\b"):
        raise ValueError(
            "INTO OUTFILE is not SQL-translatable — write the result"
            " with sources/io.py / df.write (format + path options)"
        )
    return sql


def _parse_ch_schema_literal(lit: str, ctx: str) -> list[tuple[str, str]]:
    """'x UInt8, s String' → [('x', 'SMALLINT'), ('s', 'STRING')] via
    the cast-position type map; raises naming the context on an
    unknown type (no silent STRING fallback)."""
    cols = []
    for item in _split_top_commas(lit):
        pm = re.fullmatch(r"\s*`?(\w+)`?\s+(.+?)\s*", item)
        if not pm:
            raise ValueError(f"{ctx}: cannot parse schema item {item!r}")
        tname = pm.group(2).strip()
        nm = re.fullmatch(r"Nullable\s*\((.+)\)", tname, re.I)
        if nm:
            tname = nm.group(1).strip()
        spark_t = _CH_TYPE_NAMES.get(tname.lower())
        if spark_t is None:
            raise ValueError(
                f"{ctx}: unsupported column type {tname!r} in the"
                " schema literal"
            )
        cols.append((pm.group(1), spark_t))
    return cols


_SCHEMA_TVF = re.compile(r"\b(?:FROM|JOIN)\s+(values|null)\s*\(", re.I)
_FORMAT_TVF = re.compile(r"\b(FROM|JOIN)\s+format\s*\(", re.I)


def _schema_literal_relation(m):
    """CH ``values('x UInt8, ...', rows...)`` / ``null('schema')`` →
    a typed VALUES / zero-row subquery; Spark's own VALUES is passed
    over whole."""
    sql = m.string
    fname = m.group(1).lower()
    close1 = _call_end(sql, m.end() - 1)
    args = _split_top_commas(sql[m.end(): close1])
    sm = re.fullmatch(r"\s*'([^']+)'\s*", args[0]) if args else None
    cols = None
    if sm and (fname == "null" or " " in sm.group(1)):
        try:
            cols = _parse_ch_schema_literal(sm.group(1), f"{fname}()")
        except ValueError:
            if fname == "null":
                raise
            cols = None  # a string row value, not a CH schema
    if cols is None:
        if fname == "values":
            # Spark's own VALUES clause / TVF — left as it is
            return sql[m.start(): close1 + 1], close1 + 1
        raise ValueError("null() expects a 'name Type, ...' schema string")
    head = sql[m.start(): m.start(1)]
    rows = [a.strip() for a in args[1:]]
    if fname == "null" or not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return head + f"(SELECT {sel} WHERE false) AS __ch_{fname}", close1 + 1
    if len(cols) > 1:
        if any(not r.startswith("(") for r in rows):
            raise ValueError("values(): multi-column rows must be tuples")
        vals = ", ".join(rows)
    else:
        vals = ", ".join(f"({r})" for r in rows)
    names = ", ".join(n for n, _ in cols)
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return head + (
        f"(SELECT {sel} FROM VALUES {vals}"
        f" AS __ch_vrows({names})) AS __ch_values"
    ), close1 + 1


_VIEW_TVF = re.compile(r"\b(?:FROM|JOIN)\s+(view)\s*\(\s*(?=SELECT|WITH\b)", re.I)


def _view_subquery(m):
    """``view(SELECT ...)`` → the plain subquery ``(SELECT ...)``."""
    open1 = m.string.index("(", m.end(1))
    close1 = _call_end(m.string, open1)
    return (m.string[m.start(): m.start(1)] + m.string[open1: close1 + 1],
            close1 + 1)


# words after a relation that are neither its alias nor a clause keyword
_RELATION_TAIL_WORDS = frozenset(
    ("ON", "USING", "AS", "FINAL", "WITH", "INTO", "PIVOT", "UNPIVOT")
)


def _rewrite_inline_table_functions(sql: str) -> str:
    """ClickHouse's literal-schema table functions:

    - ``values('x UInt8, ...', rows...)`` → an inline typed VALUES
      subquery. Spark has a same-named TVF with DIFFERENT semantics
      (each argument is a column of ONE row), so without this rewrite
      the CH spelling runs and silently returns garbage — the one case
      worse than an unresolved error. Only the CH form (first argument
      a 'name Type' schema string literal) rewrites; Spark's own
      ``FROM VALUES (...), (...)`` shape is left untouched.
    - ``null('schema')`` → a typed ZERO-row relation (CH's null engine
      discards; reading it is empty).
    - ``view(SELECT ...)`` → a plain subquery."""
    sql = _sub_outside_strings(sql, _SCHEMA_TVF, _schema_literal_relation)
    sql = _sub_outside_strings(sql, _VIEW_TVF, _view_subquery)
    # format(Format, 'payload') (batch-74): the inline-literal table
    # function. JSONEachRow / JSONCompactEachRow payloads parse at
    # TRANSLATE time into a typed VALUES subquery (types inferred per
    # column: bool/bigint/double/string); other formats refuse toward
    # the engine's INSERT ... FORMAT path, which owns the full format
    # zoo.
    fmt_n = 0

    def inline_format(m):
        nonlocal fmt_n
        fmt_n += 1
        sql = m.string
        open1 = sql.index("(", m.end() - 1)
        close1 = _call_end(sql, open1)
        args = _split_top_commas(sql[open1 + 1: close1])
        if len(args) != 2:
            raise ValueError(
                "the format() table function expects"
                " format(Format, 'payload')"
            )
        fmt_name = args[0].strip().strip("'\"").lower()
        pm = re.fullmatch(r"(?s)\s*'(.*)'\s*", args[1])
        if not pm or fmt_name not in (
            "jsoneachrow", "jsoncompacteachrow"
        ):
            raise ValueError(
                "format() supports inline JSONEachRow /"
                " JSONCompactEachRow string payloads — other formats"
                " go through Engine.ch_sql INSERT ... FORMAT"
            )
        import json as _json

        payload = pm.group(1).replace("\\'", "'").replace("''", "'")
        parsed = [
            _json.loads(ln)
            for ln in payload.splitlines() if ln.strip()
        ]
        if not parsed:
            raise ValueError("format(): empty payload")
        if fmt_name == "jsoneachrow":
            names: list[str] = []
            for row in parsed:
                for k in row:
                    if k not in names:
                        names.append(k)
            table = [[row.get(k) for k in names] for row in parsed]
        else:
            width = max(len(row) for row in parsed)
            names = [f"c{i + 1}" for i in range(width)]
            table = [
                list(row) + [None] * (width - len(row))
                for row in parsed
            ]

        def _sql_type(vals: list) -> str:
            nn = [v for v in vals if v is not None]
            if nn and all(isinstance(v, bool) for v in nn):
                return "BOOLEAN"
            if nn and all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in nn
            ):
                return "BIGINT"
            if nn and all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in nn
            ):
                return "DOUBLE"
            return "STRING"

        types = [_sql_type([r[i] for r in table])
                 for i in range(len(names))]

        def _lit(v, t: str) -> str:
            if v is None:
                return f"CAST(NULL AS {t})"
            if t == "BOOLEAN":
                return "true" if v else "false"
            if t in ("BIGINT", "DOUBLE"):
                return repr(v)
            s = v if isinstance(v, str) else _json.dumps(v)
            return "'" + s.replace("'", "''") + "'"

        vals = ", ".join(
            "(" + ", ".join(
                _lit(r[i], types[i]) for i in range(len(names))
            ) + ")"
            for r in table
        )
        sel = ", ".join(
            f"CAST(`{n}` AS {t}) AS `{n}`"
            for n, t in zip(names, types)
        )
        quoted = ", ".join(f"`{n}`" for n in names)
        # ADVICE r10: only attach the synthetic alias when the user
        # didn't write one (FROM format(...) AS t / FROM format(...) t
        # would otherwise emit "... AS __ch_format AS t", a parse
        # error), and make it unique per occurrence so two format()
        # calls in one statement don't collide
        tail = sql[close1 + 1:].lstrip()
        user_alias = bool(re.match(r"(?is)AS\s+[`\"]?[A-Za-z_]", tail))
        if not user_alias:
            bare = re.match(r"[`\"]?([A-Za-z_]\w*)", tail)
            user_alias = bool(bare) and not _CLAUSE_RX.match(tail) and (
                bare.group(1).upper() not in _RELATION_TAIL_WORDS
            )
        alias = "" if user_alias else f" AS __ch_format_{fmt_n}"
        repl = (
            f"{m.group(1)} (SELECT {sel} FROM VALUES {vals}"
            f" AS __ch_frows_{fmt_n}({quoted})){alias}"
        )
        return repl, close1 + 1

    sql = _sub_outside_strings(sql, _FORMAT_TVF, inline_format)
    # ANSI OFFSET ... FETCH (CH supports both spellings): LIMIT/OFFSET
    # is the Spark form. FETCH ... WITH TIES refuses to the supported
    # LIMIT n WITH TIES spelling (that rewrite has already run by now).
    return _sub_outside_strings(sql, _FETCH, _fetch_limit)


_FETCH = re.compile(
    r"\b(?:OFFSET\s+(\d+)\s+ROWS?\s+)?FETCH\s+(?:FIRST|NEXT)"
    r"\s+(\d+)\s+ROWS?\s+(ONLY|WITH\s+TIES)",
    re.I,
)


def _fetch_limit(m) -> str:
    if m.group(3).upper() != "ONLY":
        raise ValueError(
            "FETCH ... WITH TIES: use LIMIT n WITH TIES (the"
            " translated spelling)"
        )
    if m.group(1) is None:
        return f"LIMIT {m.group(2)}"
    return f"LIMIT {m.group(2)} OFFSET {m.group(1)}"


def _rewrite_numbers(sql: str) -> str:
    """``numbers(N)`` / ``numbers(off, N)`` table function → Spark's
    range() TVF, with the column renamed to ClickHouse's ``number``.
    ``generate_series/generateSeries(a, b[, step])`` (INCLUSIVE end)
    and the unbounded ``system.numbers`` stream translate too —
    the latter to a max-range TVF, lazily generated, so the LIMIT a
    sane query carries stops the scan after its first rows."""
    for rx, repl in _NUMBERS_TVFS:
        sql = _sub_outside_strings(sql, rx, repl, top=True)
    return sql


def _numbers_range(m) -> str:
    if m.group(2) is None:
        return f"(SELECT id AS number FROM range({m.group(1)}))"
    off, n = int(m.group(1)), int(m.group(2))
    return f"(SELECT id AS number FROM range({off}, {off + n}))"


def _generate_series(m) -> str:
    a, b = int(m.group(1)), int(m.group(2))
    step = int(m.group(3)) if m.group(3) else 1
    # range() is end-exclusive; generate_series is inclusive
    return (
        f"(SELECT id AS generate_series"
        f" FROM range({a}, {b + (1 if step > 0 else -1)}, {step}))"
    )


_NUMBERS_TVFS = (
    # numbers_mt is the multithreaded spelling (order not guaranteed)
    # — range() parallelizes anyway, same rewrite
    (re.compile(r"\bnumbers(?:_mt)?\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", re.I),
     _numbers_range),
    # zeros(N) / zeros_mt(N): the constant-0 generator table
    (re.compile(r"\bzeros(?:_mt)?\s*\(\s*(\d+)\s*\)", re.I),
     lambda m: f"(SELECT CAST(0 AS TINYINT) AS zero FROM range({m.group(1)}))"),
    (re.compile(r"\bgenerate(?:_s|S)eries\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*"
                r"(?:,\s*(-?\d+)\s*)?\)", re.I), _generate_series),
    (re.compile(r"\bsystem\.numbers\b", re.I),
     "(SELECT id AS number FROM range(9223372036854775807))"),
)


_IDENT_RE = re.compile(r"^[A-Za-z_][\w.]*$")


def substitute_params(sql: str, params: dict) -> str:
    """clickhouse-client query parameters: ``{name:Type}`` placeholders
    (``SELECT * FROM t WHERE user_id = {uid:UInt64}``, run with
    ``--param_uid=7``) become typed SQL literals. Values are rendered —
    never spliced raw — so a string parameter cannot inject SQL:
    strings are quote-escaped, numerics validated, dates/timestamps
    wrapped in typed literals, arrays rendered element-wise, and
    ``Identifier`` (CH's table/column parameter) validated against an
    identifier grammar. Unknown placeholder names raise."""
    def render(value, ch_type: str) -> str:
        tl = ch_type.strip()
        nm = re.match(r"^nullable\((.+)\)$", tl, re.I)
        if nm:
            if value is None:
                return "NULL"
            tl = nm.group(1).strip()
        low = tl.lower()
        if low == "uuid":
            tl, low = "String", "string"  # UUIDs render as quoted strings
        am = re.match(r"^array\((.+)\)$", tl, re.I)
        if am:
            inner = am.group(1)
            return f"array({', '.join(render(v, inner) for v in value)})"
        if low.startswith(("int", "uint")):
            return str(int(value))
        if low.startswith(("float", "double", "decimal")):
            return repr(float(value))
        if low in ("date", "date32"):
            return f"DATE '{value}'"
        if low.startswith("datetime"):
            return f"TIMESTAMP '{value}'"
        if low in ("bool", "boolean"):
            return "true" if value in (True, 1, "1", "true", "True") else "false"
        if low == "identifier":
            if not _IDENT_RE.match(str(value)):
                raise ValueError(f"invalid identifier parameter: {value!r}")
            return str(value)
        if low in ("string", "fixedstring") or low.startswith("fixedstring"):
            escaped = str(value).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        raise ValueError(f"unsupported parameter type {ch_type!r}")

    def repl(m: re.Match) -> str:
        name, ch_type = m.group(1), m.group(2)
        if name not in params:
            raise ValueError(f"missing query parameter {name!r}")
        return render(params[name], ch_type)

    # clickhouse-client lexes string literals before parameter
    # substitution, so {name:Type}-shaped text INSIDE a literal is user
    # data — substitute only outside strings, like every other rewrite
    return _sub_outside_strings(
        sql, re.compile(r"\{(\w+)\s*:\s*([\w()', ]+)\}"), repl
    )


_INTERVAL_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _to_start_of_interval(sql, m, close, args):
    if len(args) not in (2, 3):
        raise ValueError(
            "toStartOfInterval expects (expr, INTERVAL n unit"
            "[, origin])"
        )
    im = re.match(r"^INTERVAL\s+(\d+)\s+(\w+?)s?$", args[1].strip(), re.I)
    if not im:
        raise ValueError(
            f"toStartOfInterval: cannot parse interval {args[1]!r}"
        )
    n, unit = int(im.group(1)), im.group(2).lower()
    # the 3rd argument is POLYMORPHIC in CH: a timezone string
    # buckets in that zone's wall clock (pinned-UTC session ->
    # convert_timezone, the now(tz)/toWeek(tz) convention); any
    # other expression is the origin timestamp
    x = args[0]
    if len(args) == 3 and re.match(r"^'[^']*'$", args[2].strip()):
        x = f"convert_timezone('UTC', {args[2].strip()}, {x})"
        args = args[:2]
    if unit in _INTERVAL_SECONDS:
        s = n * _INTERVAL_SECONDS[unit]
        if len(args) == 3:
            # origin-anchored buckets: floor the offset FROM the
            # origin, then shift back
            o = f"unix_timestamp({args[2]})"
            return (
                f"to_timestamp(floor((unix_timestamp({x})"
                f" - {o}) / {s}) * {s} + {o})"
            )
        return f"to_timestamp(floor(unix_timestamp({x}) / {s}) * {s})"
    if unit in ("month", "quarter", "year") and n == 1:
        if len(args) == 3:
            raise ValueError(
                "toStartOfInterval: origin is only supported for"
                " fixed-length units (a month is not a constant"
                " number of seconds)"
            )
        return f"date_trunc('{unit.upper()}', {x})"
    raise ValueError(
        f"toStartOfInterval: unsupported unit {n} {unit} (variable-"
        f"length units only bucket with n=1)"
    )


_TO_START_OF_INTERVAL = _rules(
    ("toStartOfInterval", _to_start_of_interval, re.I),
)


def _rewrite_to_start_of_interval(sql: str) -> str:
    """``toStartOfInterval(x, INTERVAL n unit)`` → an epoch-floor bucket
    expression. A SQL UDF can't take an INTERVAL literal as a
    parameter, so this is a clause rewrite. Fixed-length units only
    (second/minute/hour/day — a month is not a constant number of
    seconds); month/year bucketing with n=1 maps to date_trunc."""
    return _rewrite_calls(sql, _TO_START_OF_INTERVAL)


def _tumble(sql, m, close, args):
    name = m.group(1)
    if len(args) != 2:
        raise ValueError(f"{name} expects (expr, INTERVAL n unit)")
    im = re.match(r"^INTERVAL\s+(\d+)\s+(\w+?)s?$", args[1].strip(), re.I)
    if not im:
        raise ValueError(f"{name}: cannot parse interval {args[1]!r}")
    n, unit = int(im.group(1)), im.group(2).lower()
    if unit not in _INTERVAL_SECONDS:
        raise ValueError(
            f"{name}: fixed-length units only (got {unit};"
            " month/year windows have no constant width)"
        )
    s = n * _INTERVAL_SECONDS[unit]
    base = f"floor(unix_timestamp({args[0]}) / {s}) * {s}"
    start = f"to_timestamp({base})"
    end = f"to_timestamp({base} + {s})"
    return {
        "tumbleStart": start,
        "tumbleEnd": end,
        "tumble": f"struct({start}, {end})",
    }[name]


def _hop(sql, m, close, args):
    # hopping windows (r8): ClickHouse hop(t, hop_interval,
    # window_interval) IS Spark's sliding window(t, size, slide) —
    # in a batch GROUP BY Spark multi-assigns each record to every
    # window containing it, exactly the WINDOW VIEW hop semantics the
    # old loud refusal claimed had no SQL spelling. hopStart/hopEnd
    # project .start/.end; their 1-arg forms take the window struct
    # (the GROUP BY alias spelling CH uses inside window views).
    name = m.group(1)
    if len(args) == 1 and name != "hop":
        field = "start" if name == "hopStart" else "end"
        return f"({args[0].strip()}).{field}"
    if len(args) != 3:
        raise ValueError(
            f"{name} expects (expr, INTERVAL hop, INTERVAL"
            " window) — or the window struct for"
            " hopStart/hopEnd"
        )
    secs = []
    for a in args[1:]:
        im = re.match(r"^INTERVAL\s+(\d+)\s+(\w+?)s?$", a.strip(), re.I)
        if not im:
            raise ValueError(f"{name}: cannot parse interval {a!r}")
        n, unit = int(im.group(1)), im.group(2).lower()
        if unit not in _INTERVAL_SECONDS:
            raise ValueError(f"{name}: fixed-length units only (got {unit})")
        secs.append(n * _INTERVAL_SECONDS[unit])
    slide, size = secs
    if slide > size:
        raise ValueError(
            f"{name}: the hop interval must not exceed the"
            " window interval"
        )
    win = f"window({args[0].strip()}, '{size} seconds', '{slide} seconds')"
    return {
        "hopStart": f"{win}.start",
        "hopEnd": f"{win}.end",
        "hop": win,
    }[name]


_TUMBLE_RULES = _rules(
    *((f"({name})", _tumble) for name in ("tumbleStart", "tumbleEnd", "tumble")),
    *((f"({name})", _hop) for name in ("hopStart", "hopEnd", "hop")),
)


def _rewrite_tumble(sql: str) -> str:
    """ClickHouse window-view tumbling-window functions:
    ``tumbleStart/tumbleEnd(t, INTERVAL n unit)`` → epoch-floor bucket
    bounds; ``tumble(t, I)`` → the (start, end) tuple (a 2-field
    struct, same shape the dialect's tuple literals take). Fixed-length
    units only, like toStartOfInterval. The hopping-window family
    refuses via _OPERATOR_ONLY_AGGS: a record belongs to SEVERAL hop
    windows, so the scalar spelling has no single value outside a
    WINDOW VIEW — streaming/pipeline.py sliding windows are the
    supported path."""
    return _rewrite_calls(sql, _TUMBLE_RULES)


# polymorphic ClickHouse scalar spellings with a same-shape Spark
# builtin: a typed SQL-UDF alias can't cover every argument type, so
# these rename at translate time (case-exact, name followed by a paren).
_SCALAR_RENAMES = {
    # ClickHouse's in-frame window spellings ARE Spark's lag/lead
    "lagInFrame": "lag",
    "leadInFrame": "lead",
    "arrayZip": "arrays_zip",
    # 1-based, negative-from-end; try_ because ANSI element_at THROWS
    # out-of-bounds where ClickHouse returns the type default (NULL is
    # the Spark idiom for that)
    "arrayElement": "try_element_at",
    "replaceRegexpAll": "regexp_replace",
    "concatWithSeparator": "concat_ws",
    "roundBankers": "bround",
    "bitCount": "bit_count",
    "toTypeName": "typeof",
    "dateTrunc": "date_trunc",  # camelCase spelling of the same builtin
    # element-type-preserving (the ARRAY<STRING> SQL-UDF aliases would
    # stringify; renames keep ints ints)
    "arrayReverse": "reverse",
    "arrayConcat": "concat",
    "arrayFlatten": "flatten",
    "indexOf": "array_position",
    "has": "array_contains",
    # map accessors
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "substringIndex": "substring_index",
    # UTF8-suffixed spellings: Spark's string builtins are already
    # codepoint-aware, so the UTF8 variants are plain renames
    "editDistanceUTF8": "levenshtein",
    # visitParam* is the pre-rename spelling of the simpleJSON* fast
    # scanner family (the SQL aliases carry the new names)
    "visitParamHas": "simpleJSONHas",
    "visitParamExtractString": "simpleJSONExtractString",
    "visitParamExtractInt": "simpleJSONExtractInt",
    "visitParamExtractUInt": "simpleJSONExtractUInt",
    "visitParamExtractFloat": "simpleJSONExtractFloat",
    "visitParamExtractBool": "simpleJSONExtractBool",
    "visitParamExtractRaw": "simpleJSONExtractRaw",
    "initcapUTF8": "initcap",
    "startsWithUTF8": "startswith",
    "endsWithUTF8": "endswith",
    "translateUTF8": "translate",
    "regexpExtract": "regexp_extract",
    "makeDate": "make_date",
    "makeDate32": "make_date",
    "makeDateTime": "make_timestamp",
    "makeDateTime64": "make_timestamp",
    "arrayUnion": "array_union",
    "indexOfAssumeSorted": "array_position",
    "toUTCTimestamp": "to_utc_timestamp",
    "fromUTCTimestamp": "from_utc_timestamp",
    # straight to typeof: the rename table is single-pass, so chaining
    # through the toTypeName entry (earlier in the dict) would miss
    "toColumnTypeName": "typeof",
    "currentDatabase": "current_database",
    "currentUser": "current_user",
    # -OrNull combinators: Spark aggregates ALREADY return NULL over an
    # empty set (it's ClickHouse's plain sum that returns 0), so the
    # base function IS the OrNull behavior
    "sumOrNull": "sum",
    "avgOrNull": "avg",
    "minOrNull": "min",
    "maxOrNull": "max",
    "anyOrNull": "any_value",
    "argMaxOrNull": "max_by",
    "argMinOrNull": "min_by",
    # -If-OrNull stacking (probe batch 66): the conditional aggregate
    # already returns NULL when nothing matches, so OrNull strips
    "sumIfOrNull": "sumIf",
    "avgIfOrNull": "avgIf",
    "minIfOrNull": "minIf",
    "maxIfOrNull": "maxIf",
    "anyIfOrNull": "anyIf",
    # -Array-OrNull: same argument over the flattened element stream
    "sumArrayOrNull": "sumArray",
    "avgArrayOrNull": "avgArray",
    "minArrayOrNull": "minArray",
    "maxArrayOrNull": "maxArray",
    # Kahan compensation is moot: Spark sums DOUBLE in the JVM the same
    # way ClickHouse's plain sum does — map to sum
    "sumKahan": "sum",
    "editDistance": "levenshtein",
    "levenshteinDistance": "levenshtein",
    # DP string metrics + base58: Arrow-batched pandas UDFs registered
    # by functions/strdist.register_strdist (session.get_spark does it);
    # semantics fuzz-pinned against DuckDB's implementations
    # parametric random-distribution samplers: numpy pandas UDFs
    # (functions/randdist.register_randdist; randUniform/randNormal/
    # randExponential/randLogNormal stay JVM-side as rand()/randn()
    # transforms)
    "substringIndexUTF8": "substring_index",
    # Unicode normalization via stdlib unicodedata (exact); HTML text
    # extraction as the corpus-cleaning primitive (CDATA/script/style/
    # comment-aware tag strip + whitespace collapse, strdist.py)
    "normalizeUTF8NFC": "ch_normalize_nfc",
    "normalizeUTF8NFD": "ch_normalize_nfd",
    "normalizeUTF8NFKC": "ch_normalize_nfkc",
    "normalizeUTF8NFKD": "ch_normalize_nfkd",
    "extractTextFromHTML": "ch_extract_text_from_html",
    "currentQueryID": "queryID",
    "connection_id": "connectionId",
    "randPoisson": "ch_rand_poisson",
    "randBinomial": "ch_rand_binomial",
    "randNegativeBinomial": "ch_rand_negative_binomial",
    "randChiSquared": "ch_rand_chi_squared",
    "randStudentT": "ch_rand_student_t",
    "randFisherF": "ch_rand_fisher_f",
    "damerauLevenshteinDistance": "ch_damerau_levenshtein",
    "jaroSimilarity": "ch_jaro_similarity",
    "jaroWinklerSimilarity": "ch_jaro_winkler",
    "base58Encode": "ch_base58_encode",
    "base58Decode": "ch_base58_decode",
    "tryBase58Decode": "ch_try_base58_decode",
    # RFC 4648 base32 (probe batch 55) — same pandas-UDF family
    "base32Encode": "ch_base32_encode",
    "base32Decode": "ch_base32_decode",
    "tryBase32Decode": "ch_try_base32_decode",
    # punycode via the stdlib RFC 3492 codec; IDNA via the idna
    # package (IDNA2008+UTS46, the same mapping ClickHouse's ada-idna
    # applies — 'straße.de' -> 'xn--strae-oqa.de', not the IDNA2003
    # transitional 'strasse.de')
    "punycodeEncode": "ch_punycode_encode",
    "punycodeDecode": "ch_punycode_decode",
    "tryPunycodeDecode": "ch_try_punycode_decode",
    "idnaEncode": "ch_idna_encode",
    "idnaDecode": "ch_idna_decode",
    "tryIdnaEncode": "ch_try_idna_encode",
    # batch-28 tails: stdlib-ipaddress-exact CIDR checks and the array
    # edit distance (pandas UDFs); concat spellings are plain renames
    "isIPAddressInRange": "ch_ip_in_range",
    "IPv6CIDRToRange": "ch_ipv6_cidr_to_range",
    "toIPv6": "ch_ipv6_normalize",
    # batch-68 IPv6 tails (stdlib-ipaddress-exact like toIPv6)
    "toIPv6OrNull": "ch_try_ipv6_normalize",
    "IPv6StringToNum": "ch_ipv6_to_num",
    "IPv6StringToNumOrNull": "ch_try_ipv6_to_num",
    "IPv6NumToString": "ch_ipv6_num_to_string",
    "cutIPv6": "ch_cut_ipv6",
    "arrayLevenshteinDistance": "ch_array_levenshtein",
    "concatAssumeInjective": "concat",
    "mapConcat": "map_concat",
    # batch-29 tails: Joda-syntax date spellings ARE Spark's native
    # JDK-pattern builtins; arithmetic camel names map 1:1
    "countSubstringsCaseInsensitiveUTF8": "countSubstringsCaseInsensitive",
    "overlayUTF8": "overlay",
    # RESPECT NULLS spellings: Spark's first/last_value default to
    # respecting NULLs (it's CH's any/anyLast that skip them)
    "any_respect_nulls": "first_value",
    "anyRespectNulls": "first_value",
    "anyLast_respect_nulls": "last_value",
    "anyLastRespectNulls": "last_value",
    "first_value_respect_nulls": "first_value",
    "last_value_respect_nulls": "last_value",
    "firstValueRespectNulls": "first_value",
    "lastValueRespectNulls": "last_value",
    "formatDateTimeInJodaSyntax": "date_format",
    "parseDateTimeInJodaSyntax": "to_timestamp",
    "parseDateTimeInJodaSyntaxOrNull": "try_to_timestamp",
    # MySQL-compat WEEK() alias of toWeek (HOUR/MINUTE/... are Spark
    # builtins already; Spark resolves case-insensitively)
    "WEEK": "toWeek",
    "week": "toWeek",
    "positiveModulo": "pmod",
    "positive_modulo": "pmod",
    "negate": "negative",
    "toLastDayOfMonth": "last_day",
    "widthBucket": "width_bucket",
    "mapFromArrays": "map_from_arrays",
    # complex types render as JSON text; scalar args raise Spark's own
    # loud to_json type error
    "toJSONString": "to_json",
    "arrayDistinct": "array_distinct",
    # window-function camel aliases
    "denseRank": "dense_rank",
    "percentRank": "percent_rank",
}

# Element-type-preserving argument-splicing rewrites: ClickHouse array
# spellings whose typed SQL-UDF alias would stringify elements. Keyed by
# arity; {0}/{1}/{2} are the raw argument texts. Lambda variables are
# collision-improbable (__ch_*) because user text lands in lambda bodies.
_ARRAY_SPLICE: dict[str, dict[int, str]] = {
    # arithmetic call-spellings splice to the native operators so
    # integer arguments KEEP integer types (CH plus(Int64, Int64) is
    # Int64; the typed DOUBLE SQL-UDF aliases — kept as a fallback for
    # direct spark.sql users — silently widened. fuzz_compose finding,
    # r11). divide() stays a UDF on purpose: its zero-divisor
    # inf/nan branch is the point (see functions/clickhouse.py).
    "plus": {2: "(({0}) + ({1}))"},
    "minus": {2: "(({0}) - ({1}))"},
    "multiply": {2: "(({0}) * ({1}))"},
    "arrayIntersect": {
        2: "array_sort(array_intersect({0}, {1}))",
        3: "array_sort(array_intersect(array_intersect({0}, {1}), {2}))",
        4: "array_sort(array_intersect(array_intersect("
           "array_intersect({0}, {1}), {2}), {3}))",
    },
    # 2-arg ClickHouse form slices to the end
    "arraySlice": {2: "slice({0}, {1}, size({0}))", 3: "slice({0}, {1}, {2})"},
    "arrayPushBack": {2: "concat({0}, array({1}))"},
    "arrayPushFront": {2: "concat(array({1}), {0})"},
    "arrayPopBack": {1: "slice({0}, 1, greatest(size({0}) - 1, 0))"},
    "arrayPopFront": {1: "slice({0}, 2, greatest(size({0}) - 1, 0))"},
    "arrayWithConstant": {2: "array_repeat({1}, {0})"},
    "arrayResize": {
        # 2-arg form pads with the zero of the ELEMENT type (numeric
        # only — the try_element_at difference idiom, see arrayDifference)
        2: "concat(slice({0}, 1, least({1}, size({0}))),"
           " array_repeat(try_element_at({0}, 1) - try_element_at({0}, 1),"
           " greatest(({1}) - size({0}), 0)))",
        3: "concat(slice({0}, 1, least({1}, size({0}))),"
           " array_repeat({2}, greatest(({1}) - size({0}), 0)))",
    },
    "arrayRotateLeft": {
        2: "(CASE WHEN size({0}) = 0 THEN {0} ELSE"
           " concat(slice({0}, pmod({1}, size({0})) + 1, size({0})),"
           " slice({0}, 1, pmod({1}, size({0})))) END)",
    },
    "arrayRotateRight": {
        2: "(CASE WHEN size({0}) = 0 THEN {0} ELSE"
           " concat(slice({0}, pmod(-({1}), size({0})) + 1, size({0})),"
           " slice({0}, 1, pmod(-({1}), size({0})))) END)",
    },
    # shift fills with the element-type zero (2-arg) or the given fill
    # (3-arg); negative n shifts the other way, like ClickHouse
    "arrayShiftLeft": {
        2: "(CASE WHEN ({1}) >= 0 THEN"
           " concat(slice({0}, least(({1}), size({0})) + 1, size({0})),"
           " array_repeat(try_element_at({0}, 1) - try_element_at({0}, 1),"
           " least(({1}), size({0}))))"
           " ELSE concat(array_repeat(try_element_at({0}, 1)"
           " - try_element_at({0}, 1), least(-({1}), size({0}))),"
           " slice({0}, 1, greatest(size({0}) - least(-({1}), size({0})),"
           " 0))) END)",
        3: "(CASE WHEN ({1}) >= 0 THEN"
           " concat(slice({0}, least(({1}), size({0})) + 1, size({0})),"
           " array_repeat({2}, least(({1}), size({0}))))"
           " ELSE concat(array_repeat({2}, least(-({1}), size({0}))),"
           " slice({0}, 1, greatest(size({0}) - least(-({1}), size({0})),"
           " 0))) END)",
    },
    "arrayShiftRight": {
        2: "(CASE WHEN (-({1})) >= 0 THEN"
           " concat(slice({0}, least((-({1})), size({0})) + 1, size({0})),"
           " array_repeat(try_element_at({0}, 1) - try_element_at({0}, 1),"
           " least((-({1})), size({0}))))"
           " ELSE concat(array_repeat(try_element_at({0}, 1)"
           " - try_element_at({0}, 1), least(({1}), size({0}))),"
           " slice({0}, 1, greatest(size({0}) - least(({1}), size({0})),"
           " 0))) END)",
        3: "(CASE WHEN (-({1})) >= 0 THEN"
           " concat(slice({0}, least((-({1})), size({0})) + 1, size({0})),"
           " array_repeat({2}, least((-({1})), size({0}))))"
           " ELSE concat(array_repeat({2}, least(({1}), size({0}))),"
           " slice({0}, 1, greatest(size({0}) - least(({1}), size({0})),"
           " 0))) END)",
    },
    # ClickHouse arg order is (lambda, arr, init); Spark aggregate takes
    # (arr, init, lambda) with the same (acc, x) lambda shape
    "arrayFold": {3: "aggregate({1}, {2}, {0})"},
    # first-n-sorted with the remainder unspecified: a full sort
    # satisfies the contract (and is what Catalyst would plan anyway)
    "arrayPartialSort": {2: "array_sort({1})"},
    # full descending sort refines CH's "first n sorted, rest
    # unspecified" contract, same as arrayPartialSort above
    "arrayPartialReverseSort": {2: "reverse(array_sort({1}))"},
    "arrayReversePartialSort": {2: "reverse(array_sort({1}))"},
    "splitByRegexp": {2: "split({1}, {0})"},
    "monthName": {1: "date_format({0}, 'MMMM')"},
    # lognormal is a pure randn() transform — stays JVM-side (the
    # sampler-loop distributions live in functions/randdist.py)
    "randLogNormal": {2: "exp(({0}) + ({1}) * randn())"},
    # ClickHouse's map HOFs take the lambda FIRST; Spark's map_filter
    # takes it second with the same (k, v) shape
    "mapFilter": {2: "map_filter({1}, {0})"},
    # predicate HOFs via map_filter (it accepts the same (k, v) lambda;
    # Spark's exists/forall are array-only)
    "mapExists": {2: "(size(map_filter({1}, {0})) > 0)"},
    "mapAll": {2: "(size(map_filter({1}, {0})) = size({1}))"},
    # right map wins on key collision (ClickHouse mapUpdate)
    "mapUpdate": {
        2: "map_from_entries(concat("
           "filter(map_entries({0}),"
           " __ch_e -> NOT array_contains(map_keys({1}), __ch_e.key)),"
           " map_entries({1})))",
    },
    "mapSort": {1: "map_from_entries(array_sort(map_entries({0})))"},
    # batch-68 map tails: key-LIKE extraction/containment are plain
    # map_filter / exists folds over the keys
    "mapExtractKeyLike": {
        2: "map_filter({0}, (__ch_k, __ch_v) -> __ch_k LIKE {1})"
    },
    "mapContainsKeyLike": {
        2: "exists(map_keys({0}), __ch_k -> __ch_k LIKE {1})"
    },
    # groupArrayConcat (24.x): concatenate the group's arrays in
    # collection order — the flatten of collect_list (batch-78)
    "groupArrayConcat": {1: "flatten(collect_list({0}))"},
    # lambda-first arithmetic array folds (batch-76): CH's
    # arrayMin/Max/Sum/Avg(func, arr) — 1-arg forms pass through to
    # the typed SQL aliases. arraySum is TYPE-PRESERVING (ADVICE r10:
    # the old DOUBLE accumulator made arraySum(x -> x, [1,2,3]) render
    # 6.0 where CH returns the integer 6): the zero is the first
    # mapped element times 0 (its own type), coalesced to 0 for the
    # empty array via the let-trick so the transform evaluates once.
    # Deviation: a BOOLEAN-returning lambda errors loudly here (no
    # implicit bool arithmetic in Spark) where CH sums UInt8; wrap the
    # lambda body in toUInt8(...) for that case. arrayAvg stays DOUBLE
    # — CH's arrayAvg returns Float64.
    # 1-arg forms are type-preserving (CH arraySum(Array(Int64)) is
    # Int64; the ARRAY<DOUBLE> SQL-UDF aliases widened — fuzz_compose
    # finding, r11). Same element-type zero trick as the lambda form;
    # arrayAvg/arrayProduct stay UDFs (CH returns Float64 for those).
    "arrayMin": {1: "array_min({0})", 2: "array_min(transform({1}, {0}))"},
    "arrayMax": {1: "array_max({0})", 2: "array_max(transform({1}, {0}))"},
    "arraySum": {
        1: "element_at(transform(array({0}),"
           " __ch_tf -> aggregate(__ch_tf,"
           " coalesce(try_element_at(__ch_tf, 1) * 0, 0),"
           " (__ch_s, __ch_x) -> __ch_s + __ch_x)), 1)",
        2: "element_at(transform(array(transform({1}, {0})),"
           " __ch_tf -> aggregate(__ch_tf,"
           " coalesce(try_element_at(__ch_tf, 1) * 0, 0),"
           " (__ch_s, __ch_x) -> __ch_s + __ch_x)), 1)",
    },
    "arrayAvg": {
        2: "(aggregate(transform({1}, {0}), CAST(0 AS DOUBLE),"
           " (__ch_s, __ch_x) -> __ch_s + CAST(__ch_x AS DOUBLE))"
           " / nullif(size({1}), 0))",
    },
    # bitmapTransform(bm, from, to): element remap, re-sorted distinct
    # (the sorted-array bitmap model)
    "bitmapTransform": {
        3: "array_sort(array_distinct(transform({0}, __ch_b ->"
           " coalesce(try_element_at(map_from_arrays({1}, {2}),"
           " __ch_b), __ch_b))))",
    },
    # splitByChar's 3-arg max_substrings form (batch-75): CH's default
    # (splitby_max_substrings_includes_remaining_string = 0) DISCARDS
    # the remainder — slice of the full split, not Spark's
    # keep-the-tail limit
    "splitByChar": {
        3: "slice(splitByChar({0}, {1}), 1, CAST({2} AS INT))",
    },
    # batch-69: addDate/subDate ARE the +/- interval operators; CH's
    # indexHint returns truth for every row (the argument only steers
    # index selection, which Catalyst already does from real
    # predicates) — the IS-NULL-OR-TRUE guard keeps the argument
    # analyzed so typos still error, then folds to constant TRUE.
    # BOOLEAN, not INT, because the dominant spelling is
    # WHERE indexHint(cond) (an INT there is
    # DATATYPE_MISMATCH.FILTER_NOT_BOOLEAN); in SELECT position this
    # renders true where CH renders UInt8 1 — documented deviation
    # (ADVICE r10)
    "addDate": {2: "({0} + {1})"},
    "subDate": {2: "({0} - {1})"},
    "indexHint": {1: "(({0}) IS NULL OR TRUE)"},
    "mapReverseSort": {
        1: "map_from_entries(reverse(array_sort(map_entries({0}))))",
    },
    # fill missing integer keys from min key to max key (or to the
    # explicit 2-arg bound) with zero values
    "mapPopulateSeries": {
        1: "map_from_entries(transform("
           "sequence(array_min(map_keys({0})), array_max(map_keys({0}))),"
           " __ch_k -> struct(__ch_k AS key,"
           " coalesce(try_element_at({0}, __ch_k), 0) AS value)))",
        2: "map_from_entries(transform("
           "sequence(array_min(map_keys({0})), {1}),"
           " __ch_k -> struct(__ch_k AS key,"
           " coalesce(try_element_at({0}, __ch_k), 0) AS value)))",
        # the (keys, values[, max]) ARRAY pair form (batch-75) rides
        # the map forms above via map_from_arrays
        3: "map_from_entries(transform("
           "sequence(array_min({0}), {2}),"
           " __ch_k -> struct(__ch_k AS key,"
           " coalesce(try_element_at(map_from_arrays({0}, {1}),"
           " __ch_k), 0) AS value)))",
    },
    # ---- aggregate compositions (each {i} is an aggregate argument;
    # repeated aggregate subexpressions dedup in Catalyst) ----
    "medianExact": {1: "percentile({0}, 0.5)"},
    "medianTiming": {1: "approx_percentile({0}, 0.5)"},
    "medianTDigest": {1: "approx_percentile({0}, 0.5)"},
    "medianBFloat16": {1: "approx_percentile({0}, 0.5)"},
    "medianDD": {1: "approx_percentile({0}, 0.5)"},
    "medianTimingWeighted": {
        2: "percentile({0}, 0.5, CAST({1} AS BIGINT))"
    },
    "medianBFloat16Weighted": {
        2: "percentile({0}, 0.5, CAST({1} AS BIGINT))"
    },
    "sumCount": {1: "named_struct('sum', sum({0}), 'count', count({0}))"},
    "countDistinct": {
        1: "count(DISTINCT {0})",
        2: "count(DISTINCT {0}, {1})",
        3: "count(DISTINCT {0}, {1}, {2})",
    },
    # sample-adjusted moments from Spark's population builtins:
    # skewSamp = skewness * sqrt((n-1)/n);
    # kurtSamp = (kurtosis + 3) * (n-1)/n  (Spark kurtosis is EXCESS)
    "skewSamp": {
        1: "(skewness({0}) * sqrt((count({0}) - 1.0) / count({0})))",
    },
    "kurtSamp": {
        1: "((kurtosis({0}) + 3.0) * (count({0}) - 1.0) / count({0}))",
    },
    "kurtPop": {1: "(kurtosis({0}) + 3.0)"},
    "avgWeighted": {2: "(sum(({0}) * ({1})) / sum({1}))"},
    # chord slope over the x-extent — max_by/min_by pick y at the
    # extreme x, one aggregate pass (operators/stats.py:bounding_ratio)
    # nullif guard: a single point (or constant x) has zero extent —
    # NULL result (the Spark idiom; CH emits nan) instead of an ANSI
    # divide-by-zero error
    "boundingRatio": {
        2: "((max_by({1}, {0}) - min_by({1}, {0}))"
           " / nullif(CAST(max({0}) - min({0}) AS DOUBLE), 0.0))",
    },
    # least-squares (k, b) from moment sums (ClickHouse's tuple shape)
    "simpleLinearRegression": {
        2: "named_struct("
           "'k', (avg(({0}) * ({1})) - avg({0}) * avg({1}))"
           " / (avg(({0}) * ({0})) - avg({0}) * avg({0})),"
           " 'b', avg({1})"
           " - ((avg(({0}) * ({1})) - avg({0}) * avg({1}))"
           " / (avg(({0}) * ({0})) - avg({0}) * avg({0}))) * avg({0}))",
    },
    "singleValueOrNull": {
        1: "(CASE WHEN count(DISTINCT {0}) = 1 THEN max({0}) END)",
    },
    # a bitmap's cardinality IS a distinct count
    "groupBitmap": {1: "count(DISTINCT {0})"},
    # union length of [start, end) intervals: sort by start, fold
    # merging overlaps (operators/windows.py:interval_length_sum is the
    # distributed twin)
    "intervalLengthSum": {
        2: "aggregate(array_sort(collect_list(named_struct("
           "'s', CAST({0} AS DOUBLE), 'e', CAST({1} AS DOUBLE)))),"
           " named_struct('t', CAST(0.0 AS DOUBLE),"
           " 'cs', CAST(NULL AS DOUBLE), 'ce', CAST(NULL AS DOUBLE)),"
           " (__ch_a, __ch_x) -> CASE"
           " WHEN __ch_a.cs IS NULL THEN named_struct('t', __ch_a.t,"
           "   'cs', __ch_x.s, 'ce', greatest(__ch_x.s, __ch_x.e))"
           " WHEN __ch_x.s > __ch_a.ce THEN named_struct("
           "   't', __ch_a.t + __ch_a.ce - __ch_a.cs,"
           "   'cs', __ch_x.s, 'ce', greatest(__ch_x.s, __ch_x.e))"
           " ELSE named_struct('t', __ch_a.t, 'cs', __ch_a.cs,"
           "   'ce', greatest(__ch_a.ce, __ch_x.e)) END,"
           " __ch_a -> IF(__ch_a.cs IS NULL, 0.0,"
           " __ch_a.t + __ch_a.ce - __ch_a.cs))",
    },
    # sweep-line max overlap of [s, e) intervals: +1/-1 events sorted
    # by (t, delta) — an end closes before a coincident start, matching
    # half-open semantics (operators/windows.py twin: q114/q170)
    "maxIntersections": {
        2: "aggregate(array_sort(concat("
           "transform(collect_list(named_struct('s', {0}, 'e', {1})),"
           " __ch_x -> named_struct('t', __ch_x.s, 'd', 1)),"
           "transform(collect_list(named_struct('s', {0}, 'e', {1})),"
           " __ch_x -> named_struct('t', __ch_x.e, 'd', -1)))),"
           " named_struct('c', 0, 'b', 0),"
           " (__ch_a, __ch_ev) -> named_struct('c', __ch_a.c + __ch_ev.d,"
           " 'b', greatest(__ch_a.b, __ch_a.c + __ch_ev.d)),"
           " __ch_a -> __ch_a.b)",
    },
    "maxIntersectionsPosition": {
        2: "aggregate(array_sort(concat("
           "transform(collect_list(named_struct('s', {0}, 'e', {1})),"
           " __ch_x -> named_struct('t', __ch_x.s, 'd', 1)),"
           "transform(collect_list(named_struct('s', {0}, 'e', {1})),"
           " __ch_x -> named_struct('t', __ch_x.e, 'd', -1)))),"
           " named_struct('c', 0, 'b', 0,"
           " 'p', CAST(NULL AS DOUBLE)),"
           " (__ch_a, __ch_ev) -> named_struct('c', __ch_a.c + __ch_ev.d,"
           " 'b', greatest(__ch_a.b, __ch_a.c + __ch_ev.d),"
           " 'p', IF(__ch_a.c + __ch_ev.d > __ch_a.b,"
           " CAST(__ch_ev.t AS DOUBLE), __ch_a.p)),"
           " __ch_a -> __ch_a.p)",
    },
    # positive consecutive deltas over the collected sequence
    # (insertion-order caveat as groupArrayMovingSum; pair with an
    # ORDER BY-ed subquery for determinism)
    "deltaSum": {
        1: "aggregate(collect_list(CAST({0} AS DOUBLE)),"
           " named_struct('p', CAST(NULL AS DOUBLE),"
           " 't', CAST(0.0 AS DOUBLE)),"
           " (__ch_a, __ch_x) -> named_struct('p', __ch_x,"
           " 't', __ch_a.t + CASE WHEN __ch_a.p IS NOT NULL"
           " AND __ch_x > __ch_a.p THEN __ch_x - __ch_a.p"
           " ELSE 0.0 END),"
           " __ch_a -> __ch_a.t)",
    },
    # timestamp-sorted variant: deterministic regardless of row order
    "deltaSumTimestamp": {
        2: "aggregate(transform(array_sort(collect_list(named_struct("
           "'ts', {1}, 'v', CAST({0} AS DOUBLE)))),"
           " __ch_x -> __ch_x.v),"
           " named_struct('p', CAST(NULL AS DOUBLE),"
           " 't', CAST(0.0 AS DOUBLE)),"
           " (__ch_a, __ch_x) -> named_struct('p', __ch_x,"
           " 't', __ch_a.t + CASE WHEN __ch_a.p IS NOT NULL"
           " AND __ch_x > __ch_a.p THEN __ch_x - __ch_a.p"
           " ELSE 0.0 END),"
           " __ch_a -> __ch_a.t)",
    },
    # Shannon entropy of the value distribution. Collected-array fold:
    # O(distinct * n) per group — interactive-scale spelling; the
    # distributed path is operators/stats.py:entropy (q126)
    "entropy": {
        1: "aggregate(array_distinct(collect_list(CAST({0} AS STRING))),"
           " CAST(0.0 AS DOUBLE),"
           " (__ch_acc, __ch_v) -> __ch_acc"
           " - (size(filter(collect_list(CAST({0} AS STRING)),"
           " __ch_y -> __ch_y = __ch_v))"
           " / CAST(count({0}) AS DOUBLE))"
           " * log2(size(filter(collect_list(CAST({0} AS STRING)),"
           " __ch_y -> __ch_y = __ch_v))"
           " / CAST(count({0}) AS DOUBLE)))",
    },
    # sparse array build: value at its 0-based position, NULL-filled
    # gaps (CH fills with the type default; NULL is Spark's idiom)
    "groupArrayInsertAt": {
        2: "transform(sequence(0, CAST(max({1}) AS INT)),"
           " __ch_i -> try_element_at(filter(collect_list("
           "named_struct('p', CAST({1} AS INT), 'v', {0})),"
           " __ch_e -> __ch_e.p = __ch_i), 1).v)",
    },
    # two-sample t-statistics from -If moment aggregates (index 0 vs 1,
    # the ClickHouse calling convention); p_value is the NORMAL
    # approximation erfc(|t|/sqrt(2)) — indistinguishable from the t
    # CDF at the sample sizes these run over (documented deviation;
    # operators/stats.py returns the exact df for small-sample work)
    # element-wise map arithmetic; missing keys count as zero
    "mapAdd": {
        2: "map_zip_with({0}, {1}, (__ch_k, __ch_a, __ch_b) ->"
           " coalesce(__ch_a, 0) + coalesce(__ch_b, 0))",
    },
    "mapSubtract": {
        2: "map_zip_with({0}, {1}, (__ch_k, __ch_a, __ch_b) ->"
           " coalesce(__ch_a, 0) - coalesce(__ch_b, 0))",
    },
    "arrayUniq": {1: "size(array_distinct({0}))"},
    "countEqual": {2: "size(filter({0}, __ch_y -> __ch_y <=> ({1})))"},
    # ({0})[0] - ({0})[0] is the zero of the ELEMENT type (int stays
    # int, double stays double); empty arrays pass through untouched
    "arrayDifference": {
        1: "(CASE WHEN size({0}) = 0 THEN {0} ELSE"
           " transform(sequence(0, size({0}) - 1),"
           " __ch_i -> IF(__ch_i = 0, ({0})[0] - ({0})[0],"
           " ({0})[__ch_i] - ({0})[__ch_i - 1])) END)",
    },
    # DOUBLE accumulator: an element-typed fold would reject DECIMAL
    # elements (addition widens the precision out of the accumulator
    # type), so every numeric input folds in double — documented
    # deviation from CH's integer cumsums
    "arrayCumSum": {
        1: "(CASE WHEN size({0}) = 0 THEN CAST(array() AS ARRAY<DOUBLE>)"
           " ELSE transform(sequence(0, size({0}) - 1),"
           " __ch_i -> aggregate(slice({0}, 1, __ch_i + 1),"
           " CAST(0.0 AS DOUBLE),"
           " (__ch_s, __ch_t) -> __ch_s + __ch_t)) END)",
    },
}
# caseWithExpression(x, w1, r1, ..., else) IS CASE x WHEN ... END
_ARRAY_SPLICE["caseWithExpression"] = {
    2 * k + 2: (
        "(CASE {0}"
        + "".join(f" WHEN {{{2 * j + 1}}} THEN {{{2 * j + 2}}}"
                  for j in range(k))
        + f" ELSE {{{2 * k + 1}}} END)"
    )
    for k in range(1, 6)
}
# fill-forward / fill-backward over the predicate's false stretches
# (the user lambda is applied via the filter(array(x), λ) membership
# trick, so arbitrary lambda text composes); O(n^2) per row — these run
# over per-row arrays, not the corpus
_ARRAY_SPLICE["arrayFill"] = {
    2: "(CASE WHEN size({1}) = 0 THEN {1} ELSE"
       " transform(sequence(1, size({1})), __ch_i ->"
       " CASE WHEN size(filter(array(try_element_at({1}, __ch_i)), {0})) > 0"
       " THEN try_element_at({1}, __ch_i)"
       " ELSE coalesce(try_element_at(filter(slice({1}, 1, __ch_i), {0}), -1),"
       " try_element_at({1}, __ch_i)) END) END)",
}
_ARRAY_SPLICE["arrayReverseFill"] = {
    2: "(CASE WHEN size({1}) = 0 THEN {1} ELSE"
       " transform(sequence(1, size({1})), __ch_i ->"
       " CASE WHEN size(filter(array(try_element_at({1}, __ch_i)), {0})) > 0"
       " THEN try_element_at({1}, __ch_i)"
       " ELSE coalesce(try_element_at("
       " filter(slice({1}, __ch_i, size({1})), {0}), 1),"
       " try_element_at({1}, __ch_i)) END) END)",
}
_ARRAY_SPLICE["arrayFirstOrNull"] = {
    2: "try_element_at(filter({1}, {0}), 1)",
}
_ARRAY_SPLICE["arrayLastOrNull"] = {
    2: "try_element_at(filter({1}, {0}), -1)",
}
# dense first-occurrence ids (array_distinct preserves first-seen order)
_ARRAY_SPLICE["arrayEnumerateDense"] = {
    1: "transform({0}, __ch_x -> array_position(array_distinct({0}), __ch_x))",
}
# zip with NULL padding (Spark's zip_with pads the shorter side)
_ARRAY_SPLICE["arrayZipUnaligned"] = {
    2: "zip_with({0}, {1}, (__ch_a, __ch_b) -> struct(__ch_a, __ch_b))",
}
_ARRAY_SPLICE["arrayInsert"] = {
    3: "concat(slice({0}, 1, ({1}) - 1), array({2}),"
       " slice({0}, {1}, size({0})))",
}
_ARRAY_SPLICE["arraySymmetricDifference"] = {
    2: "array_sort(array_distinct(concat(array_except({0}, {1}),"
       " array_except({1}, {0}))))",
}
# deterministic md5 permutation (ClickHouse's shuffle is RNG-seeded;
# any permutation satisfies the contract — same deviation as
# arrayRandomSample). The sample-size parameter only bounds how much of
# the prefix must be random, which the full permutation satisfies.
_ARRAY_SPLICE["arrayPartialShuffle"] = {
    1: "transform(array_sort(transform({0},"
       " __ch_v -> struct(md5(CAST(__ch_v AS STRING)) AS h,"
       " __ch_v AS v))), __ch_s -> __ch_s.v)",
    2: "transform(array_sort(transform({0},"
       " __ch_v -> struct(md5(CAST(__ch_v AS STRING)) AS h,"
       " __ch_v AS v))), __ch_s -> __ch_s.v)",
}
_ARRAY_SPLICE["arrayShuffle"] = {
    1: "transform(array_sort(transform({0},"
       " __ch_v -> struct(md5(CAST(__ch_v AS STRING)) AS h,"
       " __ch_v AS v))), __ch_s -> __ch_s.v)",
}
# names whose splice arities COEXIST with an SQL-alias arity: an
# unmatched arity passes through instead of raising
_SPLICE_PASSTHROUGH = {
    "toDayOfWeek",
    # 2-arg pad forms splice a default ' '; 3-arg falls through to the
    # SQL alias. trunc's 2-arg form is Spark's own date trunc.
    "leftPad", "rightPad", "leftPadUTF8", "rightPadUTF8", "trunc",
    # 1-arg fromUnixTimestamp is the SQL-alias timestamp conversion;
    # the 2-arg formatted spellings splice below
    "fromUnixTimestamp",
    # 1-arg week spellings are SQL aliases (mode 0); the moded 2/3-arg
    # forms splice — and the spliced template itself EMITS the 1-arg
    # alias, which the rescan must pass through
    "toWeek", "toYearWeek",
    # 2-arg splitByChar is the SQL alias; the 3-arg max_substrings form
    # splices (and emits the 2-arg alias itself)
    "splitByChar",
    # 1-arg numeric folds are SQL aliases; the lambda-first 2-arg
    # forms splice (batch-76)
    "arrayMin", "arrayMax", "arraySum", "arrayAvg",
}
# the Joda spelling takes JDK patterns, which date_format speaks
# natively (the %-format 2-arg fromUnixTimestamp rewrites ahead of the
# formatDateTime %-conversion pass instead)
_ARRAY_SPLICE["fromUnixTimestampInJodaSyntax"] = {
    2: "date_format(timestamp_seconds({0}), {1})",
}
# r6 execution-probe batch 19: spellings that died at run time
_ARRAY_SPLICE["leftPad"] = {2: "lpad({0}, {1}, ' ')"}
_ARRAY_SPLICE["rightPad"] = {2: "rpad({0}, {1}, ' ')"}
_ARRAY_SPLICE["leftPadUTF8"] = {2: "lpad({0}, {1}, ' ')"}
_ARRAY_SPLICE["rightPadUTF8"] = {2: "rpad({0}, {1}, ' ')"}
# numeric truncation toward zero (the 1-arg CH form; CH's 2-arg decimal
# truncation collides with Spark's 2-arg DATE trunc and stays refused
# by Spark's own type error)
_ARRAY_SPLICE["trunc"] = {
    1: "(CASE WHEN {0} >= 0 THEN floor({0}) ELSE ceil({0}) END)",
}
# MySQL-compat truncate(x[, n]): digit-scaled truncation toward zero
# (the bare name avoids Spark's 2-arg DATE trunc collision)
_ARRAY_SPLICE["truncate"] = {
    1: "(CASE WHEN {0} >= 0 THEN floor({0}) ELSE ceil({0}) END)",
    2: "((CASE WHEN {0} >= 0 THEN floor({0} * pow(10, {1}))"
       " ELSE ceil({0} * pow(10, {1})) END) / pow(10, {1}))",
}
# toString(ts, tz): render in the NAMED zone (pinned-UTC session);
# the 1-arg form keeps its SQL-alias/cast path
_ARRAY_SPLICE["toString"] = {
    2: "CAST(convert_timezone('UTC', {1}, {0}) AS STRING)",
}
_SPLICE_PASSTHROUGH.add("toString")
# clamped running sum (negative prefixes reset to zero); DOUBLE
# accumulator for the same reason as arrayCumSum above
_ARRAY_SPLICE["arrayCumSumNonNegative"] = {
    1: "(CASE WHEN size({0}) = 0 THEN CAST(array() AS ARRAY<DOUBLE>)"
       " ELSE transform(sequence(0, size({0}) - 1),"
       " __ch_i -> aggregate(slice({0}, 1, __ch_i + 1),"
       " CAST(0.0 AS DOUBLE),"
       " (__ch_s, __ch_t) -> greatest(__ch_s + __ch_t,"
       " CAST(0.0 AS DOUBLE)))) END)",
}
# new-style snowflake IDs: explicit epoch (ms) or the 0-epoch default
_ARRAY_SPLICE["snowflakeIDToDateTime"] = {
    1: "timestamp_millis(CAST({0} AS BIGINT) >> 22)",
    2: "timestamp_millis((CAST({0} AS BIGINT) >> 22) + {1})",
}
_ARRAY_SPLICE["dateTimeToSnowflakeID"] = {
    1: "shiftleft(unix_millis({0}), 22)",
    2: "shiftleft(unix_millis({0}) - {1}, 22)",
}
# toXOrDefault family: try_cast falling back to the caller's default
for _ch_t, _sp_t in [
    ("Int8", "TINYINT"), ("Int16", "SMALLINT"), ("Int32", "INT"),
    ("Int64", "BIGINT"), ("UInt8", "SMALLINT"), ("UInt16", "INT"),
    ("UInt32", "BIGINT"), ("UInt64", "BIGINT"),
    ("Float32", "FLOAT"), ("Float64", "DOUBLE"),
    ("Date", "DATE"), ("DateTime", "TIMESTAMP"),
]:
    _ARRAY_SPLICE[f"to{_ch_t}OrDefault"] = {
        2: f"coalesce(try_cast({{0}} AS {_sp_t}), {{1}})",
    }
# conditional raise: 0 when the condition is false, error otherwise
_ARRAY_SPLICE["throwIf"] = {
    1: "(CASE WHEN {0} THEN CAST(raise_error('throwIf') AS INT) ELSE 0 END)",
    2: "(CASE WHEN {0} THEN CAST(raise_error({1}) AS INT) ELSE 0 END)",
}
# -If on the COUNT(DISTINCT) spelling (uniqExactIf's alias)
_ARRAY_SPLICE["countDistinctIf"] = {
    2: "count(DISTINCT CASE WHEN {1} THEN {0} END)",
}
# first-occurrence plain-string replace: locate + substring surgery
# (Spark's replace/regexp_replace are replace-ALL)
_ARRAY_SPLICE["replaceOne"] = {
    3: "(CASE WHEN locate({1}, {0}) > 0 THEN"
       " concat(substr({0}, 1, locate({1}, {0}) - 1), {2},"
       " substr({0}, locate({1}, {0}) + length({1})))"
       " ELSE {0} END)",
}
_ARRAY_SPLICE["isNotDistinctFrom"] = {2: "({0} <=> {1})"}
# r8 probe batch 49: the scalar bitmap family. The roaring bitmap is
# modeled as a SORTED DISTINCT ARRAY (bitmapToArray's contract is
# ascending order, so the representation IS the readback); every CH
# set operation maps onto a pure-JVM array builtin. The mergeable
# groupBitmapAnd/Or/Xor aggregates fold the same model (see the r9
# block after subBitmap); only the raw -State byte forms stay refused.
_ARRAY_SPLICE["bitmapBuild"] = {1: "array_sort(array_distinct({0}))"}
_ARRAY_SPLICE["bitmapToArray"] = {1: "({0})"}
_ARRAY_SPLICE["bitmapCardinality"] = {1: "CAST(size({0}) AS BIGINT)"}
_ARRAY_SPLICE["bitmapMin"] = {1: "array_min({0})"}
_ARRAY_SPLICE["bitmapMax"] = {1: "array_max({0})"}
_ARRAY_SPLICE["bitmapAnd"] = {2: "array_sort(array_intersect({0}, {1}))"}
_ARRAY_SPLICE["bitmapOr"] = {2: "array_sort(array_union({0}, {1}))"}
_ARRAY_SPLICE["bitmapXor"] = {
    2: "array_sort(concat(array_except({0}, {1}),"
       " array_except({1}, {0})))",
}
_ARRAY_SPLICE["bitmapAndnot"] = {2: "array_sort(array_except({0}, {1}))"}
_ARRAY_SPLICE["bitmapAndCardinality"] = {
    2: "CAST(size(array_intersect({0}, {1})) AS BIGINT)",
}
_ARRAY_SPLICE["bitmapOrCardinality"] = {
    2: "CAST(size(array_union({0}, {1})) AS BIGINT)",
}
_ARRAY_SPLICE["bitmapXorCardinality"] = {
    2: "CAST(size(array_except({0}, {1}))"
       " + size(array_except({1}, {0})) AS BIGINT)",
}
_ARRAY_SPLICE["bitmapAndnotCardinality"] = {
    2: "CAST(size(array_except({0}, {1})) AS BIGINT)",
}
_ARRAY_SPLICE["bitmapContains"] = {2: "array_contains({0}, {1})"}
_ARRAY_SPLICE["bitmapHasAny"] = {2: "arrays_overlap({0}, {1})"}
_ARRAY_SPLICE["bitmapHasAll"] = {
    2: "(size(array_except({1}, {0})) = 0)",
}
_ARRAY_SPLICE["bitmapSubsetInRange"] = {
    3: "array_sort(filter({0}, __ch_b -> __ch_b >= {1}"
       " AND __ch_b < {2}))",
}
_ARRAY_SPLICE["bitmapSubsetLimit"] = {
    3: "slice(array_sort(filter({0}, __ch_b -> __ch_b >= {1})),"
       " 1, CAST({2} AS INT))",
}
_ARRAY_SPLICE["subBitmap"] = {
    3: "slice(array_sort({0}), CAST({1} AS INT) + 1,"
       " CAST({2} AS INT))",
}
# r9: the mergeable groupBitmap* AGGREGATES over bitmap (sorted
# distinct array) columns — previously refused toward the HLL sketch
# tier. Each folds the group's bitmaps with the matching set op and
# returns the cardinality (CH's return type). OR short-circuits to
# distinct-of-flatten (map-side combinable via partial collect);
# AND/XOR fold with aggregate() over the collected list — correct at
# any group count, and the SCALE path for huge groups is the bucketed
# (key, id % 2^k) decomposition shown in q248_bitmap_retention_bucketed
# (bucket-wise set ops are exact because buckets partition the id
# space, and per-bucket cardinalities sum).
_GB_CL = "collect_list({0})"
_ARRAY_SPLICE["groupBitmapOr"] = {
    1: "CAST(size(array_distinct(flatten(collect_list({0}))))"
       " AS BIGINT)",
}
_ARRAY_SPLICE["groupBitmapAnd"] = {
    1: (
        "(CASE WHEN size(" + _GB_CL + ") = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(size(aggregate("
        "slice(" + _GB_CL + ", 2, size(" + _GB_CL + ") - 1),"
        " element_at(" + _GB_CL + ", 1),"
        " (__ch_a, __ch_x) -> array_intersect(__ch_a, __ch_x)))"
        " AS BIGINT) END)"
    ),
}
_ARRAY_SPLICE["groupBitmapXor"] = {
    1: (
        "(CASE WHEN size(" + _GB_CL + ") = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(size(aggregate("
        "slice(" + _GB_CL + ", 2, size(" + _GB_CL + ") - 1),"
        " array_distinct(element_at(" + _GB_CL + ", 1)),"
        " (__ch_a, __ch_x) -> concat("
        "array_except(__ch_a, __ch_x),"
        " array_except(array_distinct(__ch_x), __ch_a))))"
        " AS BIGINT) END)"
    ),
}
# r8 probe batch 47: bin over strings crashed (Spark's bin casts to
# BIGINT). CH renders every hex nibble as 4 bits — exact for strings
# (per-byte bits); numbers keep Spark's hex width (CH pads to the
# declared integer width, unknowable post-translation)
_ARRAY_SPLICE["bin"] = {
    1: "concat_ws('', transform(split(hex({0}), '(?!$)'),"
       " __ch_b -> lpad(conv(__ch_b, 16, 2), 4, '0')))",
}
# UUIDv7 carries unix-ms in its first 48 bits (12 hex chars)
_ARRAY_SPLICE["UUIDv7ToDateTime"] = {
    1: "timestamp_millis(CAST(conv(substr(replace("
       "CAST({0} AS STRING), '-', ''), 1, 12), 16, 10) AS BIGINT))",
}
# r8 probe batch 48: MySQL-style week modes. Mode 0 is the 1-arg SQL
# alias (CH's default: Sunday-first, week 0 before the first Sunday);
# mode 3 is ISO (Spark weekofyear); mode 1 is ISO clamped to the
# calendar year (0 before ISO week 1, prior week + 1 for a December
# date in next year's ISO week 1). Other modes raise at runtime
# naming the supported set. The 3-arg timezone form converts to the
# named zone first (see _WEEK_TZ below).
_WEEK_MODE1 = (
    "(CASE WHEN month({0}) = 1 AND weekofyear({0}) > 50 THEN 0"
    " WHEN month({0}) = 12 AND weekofyear({0}) = 1"
    " THEN weekofyear(date_sub(CAST({0} AS DATE), 7)) + 1"
    " ELSE weekofyear({0}) END)"
)
_WEEK_MODED = (
    "(CASE CAST(({1}) AS INT) WHEN 0 THEN toWeek({0})"
    " WHEN 3 THEN weekofyear({0})"
    f" WHEN 1 THEN {_WEEK_MODE1}"
    " ELSE CAST(raise_error(concat('toWeek mode ',"
    " CAST(({1}) AS STRING),"
    " ' is not supported — modes 0, 1, 3')) AS INT) END)"
)
# The 3-arg timezone form evaluates the week in the NAMED zone: the
# session is pinned UTC, so convert_timezone('UTC', tz, x) yields the
# wall-clock in tz (same pattern as now(tz)). CH ignores the tz for
# pure Date arguments; here a Date rides through as its UTC midnight,
# which only diverges for zones west of UTC — acceptable vs silently
# ignoring the argument (ADVICE r8).
_WEEK_TZ = "convert_timezone('UTC', {2}, {0})"
_ARRAY_SPLICE["toWeek"] = {
    2: _WEEK_MODED,
    3: _WEEK_MODED.replace("{0}", _WEEK_TZ),
}
_YEARWEEK_MODED = (
    "(CASE CAST(({1}) AS INT) WHEN 0 THEN toYearWeek({0})"
    " WHEN 1 THEN toISOYear({0}) * 100 + weekofyear({0})"
    " WHEN 3 THEN toISOYear({0}) * 100 + weekofyear({0})"
    " ELSE CAST(raise_error(concat('toYearWeek mode ',"
    " CAST(({1}) AS STRING),"
    " ' is not supported — modes 0, 1, 3')) AS INT) END)"
)
_ARRAY_SPLICE["toYearWeek"] = {
    2: _YEARWEEK_MODED,
    3: _YEARWEEK_MODED.replace("{0}", _WEEK_TZ),
}
# CH's evaluate-and-discard helper (returns 0 regardless)
_ARRAY_SPLICE["ignore"] = {k: "0" for k in range(1, 6)}
# the Nothing aggregate: always NULL (the aggThrow refusal points here)
_ARRAY_SPLICE["nothing"] = {
    k: "max(CAST(NULL AS STRING))" for k in range(0, 3)
}
# r8 probe batch 54: the change-one-field family rides timestampadd
# deltas (preserves every other field incl. subseconds; out-of-range
# targets clamp through the delta arithmetic), sub-second add/subtract
# via fractional make_dt_interval, 2-arg makeDate (year, day-of-year),
# and the snake-case 3-arg date_diff (Spark's own date_diff is the
# 2-arg day difference; the CH alias resolves to the registered
# chDateDiff SQL function)
for _cf, _cu in [("changeYear", "YEAR"), ("changeMonth", "MONTH"),
                 ("changeDay", "DAY"), ("changeHour", "HOUR"),
                 ("changeMinute", "MINUTE"), ("changeSecond", "SECOND")]:
    _fld = _cu.lower()
    _ARRAY_SPLICE[_cf] = {
        2: f"timestampadd({_cu}, CAST({{1}} AS INT)"
           f" - {_fld}({{0}}), {{0}})",
    }
_ARRAY_SPLICE["addMilliseconds"] = {
    2: "({0} + make_dt_interval(0, 0, 0, CAST({1} AS DOUBLE) / 1000.0))",
}
_ARRAY_SPLICE["subtractMilliseconds"] = {
    2: "({0} - make_dt_interval(0, 0, 0, CAST({1} AS DOUBLE) / 1000.0))",
}
_ARRAY_SPLICE["addMicroseconds"] = {
    2: "({0} + make_dt_interval(0, 0, 0, CAST({1} AS DOUBLE) / 1e6))",
}
_ARRAY_SPLICE["subtractMicroseconds"] = {
    2: "({0} - make_dt_interval(0, 0, 0, CAST({1} AS DOUBLE) / 1e6))",
}
# under the RENAMED spelling: the makeDate->make_date rename runs
# before this pass, so the 2-arg (year, day-of-year) CH form arrives
# here as make_date; the 3-arg form is Spark's own and passes through
_ARRAY_SPLICE["make_date"] = {
    2: "date_add(make_date(CAST({0} AS INT), 1, 1),"
       " CAST({1} AS INT) - 1)",
}
_SPLICE_PASSTHROUGH.add("make_date")
_ARRAY_SPLICE["date_diff"] = {3: "chDateDiff({0}, {1}, {2})"}
_SPLICE_PASSTHROUGH.add("date_diff")  # 2-arg form is Spark's own
# CH documents timestamp_diff as an exact alias of dateDiff (the
# camelCase timestampDiff has its own unquoted-unit rewrite below)
_ARRAY_SPLICE["timestamp_diff"] = {3: "chDateDiff({0}, {1}, {2})"}
# r8 probe batch 53 tail
# uppercase RAND(): the CH rand()->UInt32 rewrite is case-exact and
# must not re-map the canonical [0,1) form back to the integer one
_ARRAY_SPLICE["canonicalRand"] = {0: "RAND()"}
_ARRAY_SPLICE["nanOrNull"] = {0: "CAST('NaN' AS DOUBLE)"}
_ARRAY_SPLICE["infOrNull"] = {0: "CAST('Infinity' AS DOUBLE)"}
# toDayOfWeek's mode argument (0: Mon=1..7, 1: Mon=0..6, 2: Sun=1..7,
# 3: Sun=0..6); the 1-arg form stays an alias
_ARRAY_SPLICE["toDayOfWeek"] = {
    2: "(CASE ({1}) WHEN 0 THEN weekday({0}) + 1"
       " WHEN 1 THEN weekday({0})"
       " WHEN 2 THEN dayofweek({0})"
       " WHEN 3 THEN dayofweek({0}) - 1 END)",
    3: "(CASE ({1}) WHEN 0 THEN weekday({0}) + 1"
       " WHEN 1 THEN weekday({0})"
       " WHEN 2 THEN dayofweek({0})"
       " WHEN 3 THEN dayofweek({0}) - 1 END)",
}
# 1-arg date-part/rollup spellings splice to their builtin bodies so
# NO SQL-UDF remains in grouping position: Spark inlines SQL UDFs as
# projections, and a UDF call inside a GROUPING expression breaks
# aggregate extraction whenever aggregates in the same query also
# carry UDF calls (MISSING_ATTRIBUTES — fuzz_compose r11; GROUP BY
# toMonday(d) is the bread-and-butter CH rollup shape). Bodies are
# copied verbatim from the functions/clickhouse.py aliases, which stay
# registered for direct spark.sql users. A 2-arg timezone call now
# refuses loudly at translate time instead of dying unresolved.
_ARRAY_SPLICE["toDayOfWeek"][1] = "(weekday({0}) + 1)"
for _dn, _dtpl in (
    ("toYear", "year({0})"),
    ("toMonth", "month({0})"),
    ("toHour", "hour({0})"),
    ("toMinute", "minute({0})"),
    ("toSecond", "second({0})"),
    ("toDayOfMonth", "day({0})"),
    ("toDayOfYear", "dayofyear({0})"),
    ("toQuarter", "quarter({0})"),
    ("toISOWeek", "weekofyear({0})"),
    ("toYYYYMM", "CAST(date_format({0}, 'yyyyMM') AS INT)"),
    ("toYYYYMMDD", "CAST(date_format({0}, 'yyyyMMdd') AS INT)"),
    ("toStartOfMonth", "CAST(date_trunc('MONTH', ({0})) AS DATE)"),
    ("toStartOfQuarter", "CAST(date_trunc('QUARTER', ({0})) AS DATE)"),
    ("toStartOfYear", "CAST(date_trunc('YEAR', ({0})) AS DATE)"),
    ("toMonday", "CAST(date_trunc('WEEK', ({0})) AS DATE)"),
    # {0} referenced twice — date exprs are cheap and columns dominate
    ("toStartOfWeek", "date_sub(CAST(({0}) AS DATE), dayofweek({0}) - 1)"),
    ("toDate", "CAST(({0}) AS DATE)"),
):
    _ARRAY_SPLICE.setdefault(_dn, {})[1] = _dtpl
# element access that tolerates any index (ClickHouse's OrNull form;
# Spark's try_element_at still rejects index 0)
_ARRAY_SPLICE["arrayElementOrNull"] = {
    2: "(CASE WHEN ({1}) = 0 THEN NULL"
       " ELSE try_element_at({0}, {1}) END)",
}
# parameterized decimal casts (the scale must be a literal, as in CH)
_ARRAY_SPLICE["toDecimal32"] = {2: "CAST({0} AS DECIMAL(9, {1}))"}
_ARRAY_SPLICE["toDecimal64"] = {2: "CAST({0} AS DECIMAL(18, {1}))"}
_ARRAY_SPLICE["toDecimal128"] = {2: "CAST({0} AS DECIMAL(38, {1}))"}
# Decimal256 callers get Spark's widest decimal (38 digits — the
# 39..76-digit tail is the documented Int256 deviation)
_ARRAY_SPLICE["toDecimal256"] = {2: "CAST({0} AS DECIMAL(38, {1}))"}
for _w, _p in (("32", 9), ("64", 18), ("128", 38), ("256", 38)):
    _ARRAY_SPLICE[f"toDecimal{_w}OrNull"] = {
        2: f"TRY_CAST({{0}} AS DECIMAL({_p}, {{1}}))"
    }
    _ARRAY_SPLICE[f"toDecimal{_w}OrZero"] = {
        2: f"coalesce(TRY_CAST({{0}} AS DECIMAL({_p}, {{1}})),"
           f" CAST(0 AS DECIMAL({_p}, {{1}})))"
    }
# the half-hour (or custom-size) slot spine covering [start, start+dur]
_ARRAY_SPLICE["timeSlots"] = {
    2: "transform(sequence("
       "CAST(floor(unix_timestamp({0}) / 1800) AS BIGINT),"
       " CAST(floor((unix_timestamp({0}) + ({1})) / 1800) AS BIGINT)),"
       " __ch_i -> to_timestamp(__ch_i * 1800))",
    3: "transform(sequence("
       "CAST(floor(unix_timestamp({0}) / ({2})) AS BIGINT),"
       " CAST(floor((unix_timestamp({0}) + ({1})) / ({2})) AS BIGINT)),"
       " __ch_i -> to_timestamp(__ch_i * ({2})))",
}
# array geometry / sampling corners
_ARRAY_SPLICE["arrayShingles"] = {
    2: "transform(sequence(1, size({0}) - ({1}) + 1),"
       " __ch_i -> slice({0}, __ch_i, {1}))",
}
# deterministic md5-keyed sample (ClickHouse's is RNG-seeded; the
# deterministic pick reruns and oracles identically — same deviation
# as groupArraySample)
_ARRAY_SPLICE["arrayRandomSample"] = {
    2: "transform(slice(array_sort(transform({0},"
       " __ch_v -> struct(md5(CAST(__ch_v AS STRING)) AS h,"
       " __ch_v AS v))), 1, {1}), __ch_s -> __ch_s.v)",
}
# clamp(x, lo, hi) (24.5, batch-80): type-preserving least/greatest
_ARRAY_SPLICE["clamp"] = {3: "least(greatest({0}, {1}), {2})"}
_ARRAY_SPLICE["arrayDotProduct"] = {
    2: "aggregate(zip_with({0}, {1},"
       " (__ch_x, __ch_y) -> CAST(__ch_x AS DOUBLE) * __ch_y),"
       " CAST(0.0 AS DOUBLE), (__ch_s, __ch_t) -> __ch_s + __ch_t)",
}
# pairwise concordance AUC over (scores, labels) arrays: ties count
# half, denominator = pos * neg pairs
# ROC AUC via the Mann-Whitney midrank identity:
#   AUC = (sum of positives' midranks - P(P+1)/2) / (P * N)
# with midranks over the score-ascending order — EXACTLY the
# 0.5-per-tied-pair convention the old all-pairs template computed,
# but O(n log n) (one sort + one fold) instead of O(n^2): a 250k-score
# group finishes in milliseconds where the pair matrix died. Midranks
# are multiples of 0.5, so the fold's sums stay exact in double.
# The fold walks tie-runs: rs = run start rank, rl = run length,
# rp = positives in the run, ps = run score; a run flushes
# rp * (rs + (rl - 1)/2) into mid when the score changes.
_AUC_FOLD = (
    "(CASE WHEN size({0}) > 0 THEN"
    " aggregate(array_sort(zip_with({0}, {1},"
    " (__ch_sc, __ch_lb) -> struct(__ch_sc AS sc, __ch_lb AS lb))),"
    " named_struct('i', 0, 'rs', 1, 'rl', 0, 'rp', 0,"
    " 'ps', CAST(NULL AS DOUBLE), 'mid', CAST(0.0 AS DOUBLE), 'p', 0),"
    " (__ch_st, __ch_e) -> CASE"
    " WHEN __ch_st.rl > 0 AND CAST(__ch_e.sc AS DOUBLE) <=> __ch_st.ps"
    " THEN named_struct('i', __ch_st.i + 1, 'rs', __ch_st.rs,"
    " 'rl', __ch_st.rl + 1, 'rp', __ch_st.rp + __ch_e.lb,"
    " 'ps', __ch_st.ps, 'mid', __ch_st.mid, 'p', __ch_st.p + __ch_e.lb)"
    " ELSE named_struct('i', __ch_st.i + 1, 'rs', __ch_st.i + 1,"
    " 'rl', 1, 'rp', __ch_e.lb + 0, 'ps', CAST(__ch_e.sc AS DOUBLE),"
    " 'mid', __ch_st.mid"
    " + __ch_st.rp * (__ch_st.rs + (__ch_st.rl - 1) / 2.0),"
    " 'p', __ch_st.p + __ch_e.lb) END,"
    " __ch_st -> (__ch_st.mid"
    " + __ch_st.rp * (__ch_st.rs + (__ch_st.rl - 1) / 2.0)"
    " - __ch_st.p * (__ch_st.p + 1) / 2.0)"
    " / nullif(CAST(__ch_st.p AS DOUBLE) * (__ch_st.i - __ch_st.p),"
    " 0.0))"
    " ELSE CAST(NULL AS DOUBLE) END)"
)
_ARRAY_SPLICE["arrayAUC"] = {2: _AUC_FOLD}
# renamed spelling of the same ROC fold (ClickHouse 24.x+ name)
_ARRAY_SPLICE["arrayROCAUC"] = dict(_ARRAY_SPLICE["arrayAUC"])
# precision-recall AUC: sort (score, label) pairs by score DESC
# (ties: negatives first — deterministic; CH leaves tie order
# unspecified), then sum precision-at-i over the positives and divide
# by the positive count (the rectangle rule on recall increments —
# matches the ClickHouse doc vector 0.8333...). Zero positives -> 0.
_PRAUC = (
    "(CASE WHEN aggregate({1}, 0, (__ch_s, __ch_t) -> __ch_s + __ch_t)"
    " = 0 THEN CAST(0.0 AS DOUBLE) ELSE"
    " aggregate(array_sort(zip_with({0}, {1},"
    " (__ch_sc, __ch_lb) -> struct(__ch_sc AS sc, __ch_lb AS lb)),"
    " (__ch_a, __ch_b) -> CASE"
    " WHEN __ch_a.sc > __ch_b.sc THEN -1"
    " WHEN __ch_a.sc < __ch_b.sc THEN 1"
    " WHEN __ch_a.lb < __ch_b.lb THEN -1"
    " WHEN __ch_a.lb > __ch_b.lb THEN 1 ELSE 0 END),"
    " named_struct('i', 0, 'tp', 0, 'acc', CAST(0.0 AS DOUBLE)),"
    " (__ch_st, __ch_e) -> named_struct("
    " 'i', __ch_st.i + 1,"
    " 'tp', __ch_st.tp + __ch_e.lb,"
    " 'acc', __ch_st.acc + CASE WHEN __ch_e.lb = 1 THEN"
    " CAST(__ch_st.tp + 1 AS DOUBLE) / (__ch_st.i + 1)"
    " ELSE CAST(0.0 AS DOUBLE) END),"
    " __ch_st -> __ch_st.acc)"
    " / aggregate({1}, 0, (__ch_s, __ch_t) -> __ch_s + __ch_t) END)"
)
_ARRAY_SPLICE["arrayPRAUC"] = {2: _PRAUC}
_ARRAY_SPLICE["arrayAUCPR"] = {2: _PRAUC}
# keyed sipHash spellings: role-equivalent keyed fingerprints (the
# repo's documented xxhash64 hash-role convention — the KEY
# participates in the input, so distinct keys give distinct streams;
# not SipHash bit-compat, like every other hash stand-in here). The
# key tuple arrives as one struct argument and hashes as a unit.
_ARRAY_SPLICE["sipHash64Keyed"] = {
    k: "xxhash64(" + ", ".join("{" + str(i) + "}" for i in range(k)) + ")"
    for k in range(2, 6)
}
_ARRAY_SPLICE["sipHash128Keyed"] = {
    k: "unhex(md5(concat_ws('\\u0001', "
       + ", ".join(
           "CAST({" + str(i) + "} AS STRING)" for i in range(k)
       )
       + ")))"
    for k in range(2, 6)
}
# N x N moment matrices over the listed columns (ClickHouse corrMatrix
# and friends): an array-of-arrays of the pairwise builtin aggregates —
# Catalyst dedupes the symmetric repeats
for _mname, _mbase in (
    ("corrMatrix", "corr"),
    ("covarSampMatrix", "covar_samp"),
    ("covarPopMatrix", "covar_pop"),
):
    _ARRAY_SPLICE[_mname] = {
        k: "array("
        + ", ".join(
            "array("
            + ", ".join(f"{_mbase}({{{i}}}, {{{j}}})" for j in range(k))
            + ")"
            for i in range(k)
        )
        + ")"
        for k in range(2, 6)
    }
# intersection of the group's arrays: an element survives when every
# collected array contains it
_ARRAY_SPLICE["groupArrayIntersect"] = {
    1: "filter(array_distinct(flatten(collect_list({0}))),"
       " __ch_x -> size(filter(collect_list({0}),"
       " __ch_a -> array_contains(__ch_a, __ch_x))) = count({0}))",
}
# bitTestAll/bitTestAny(x, b1, b2, ...): conjunction/disjunction of
# single-bit probes, UInt8 0/1 result like ClickHouse. shiftright()
# (not the >> operator) because Spark's parser mis-lexes >> appearing
# after a lambda body that contains NOT.
_ARRAY_SPLICE["bitTestAll"] = {
    1 + k: "(CAST("
    + " AND ".join(
        f"((shiftright({{0}}, {{{j}}}) & 1) = 1)" for j in range(1, k + 1)
    )
    + " AS INT))"
    for k in range(1, 7)
}
_ARRAY_SPLICE["bitTestAny"] = {
    1 + k: "(CAST("
    + " OR ".join(
        f"((shiftright({{0}}, {{{j}}}) & 1) = 1)" for j in range(1, k + 1)
    )
    + " AS INT))"
    for k in range(1, 7)
}
# pointInEllipses(x, y, x0, y0, a0, b0, ...) — inside ANY listed ellipse
_ARRAY_SPLICE["pointInEllipses"] = {
    2 + 4 * k: "(" + " OR ".join(
        f"((({{0}}) - ({{{2 + 4 * j}}})) * (({{0}}) - ({{{2 + 4 * j}}}))"
        f" / (({{{4 + 4 * j}}}) * ({{{4 + 4 * j}}}))"
        f" + (({{1}}) - ({{{3 + 4 * j}}})) * (({{1}}) - ({{{3 + 4 * j}}}))"
        f" / (({{{5 + 4 * j}}}) * ({{{5 + 4 * j}}})) <= 1.0)"
        for j in range(k)
    ) + ")"
    for k in range(1, 4)
}
def _ttest_template(pooled: bool) -> str:
    """studentTTest/welchTTest(x, idx) splice template: two-sample
    t-statistic from -If moment aggregates (index 0 vs 1, the
    ClickHouse calling convention). p_value inlines the A&S 7.1.26
    erfc polynomial on |t|/sqrt(2) — the NORMAL approximation, exact
    for the large samples these run over (operators/stats.py keeps the
    Welch df for small-sample work). Inlined rather than calling the
    erfc SQL UDF: Spark 4.1's analyzer mis-flags struct field names as
    non-foldable when a SQL UDF inlines inside a struct constructor."""
    # the population index is UInt8 0/1 in CH; accept booleans too
    x, g = "{0}", "CAST(({1}) AS INT)"
    n0, n1 = f"count_if(({g}) = 0)", f"count_if(({g}) = 1)"
    m0 = f"avg(IF(({g}) = 0, CAST({x} AS DOUBLE), NULL))"
    m1 = f"avg(IF(({g}) = 1, CAST({x} AS DOUBLE), NULL))"
    v0 = f"var_samp(IF(({g}) = 0, CAST({x} AS DOUBLE), NULL))"
    v1 = f"var_samp(IF(({g}) = 1, CAST({x} AS DOUBLE), NULL))"
    if pooled:
        se = (
            f"sqrt(((({n0} - 1) * {v0} + ({n1} - 1) * {v1})"
            f" / ({n0} + {n1} - 2)) * (1.0 / {n0} + 1.0 / {n1}))"
        )
    else:
        se = f"sqrt({v0} / {n0} + {v1} / {n1})"
    t = f"(({m0} - {m1}) / {se})"
    z = f"(abs({t}) / sqrt(2.0))"
    u = f"(1.0 / (1.0 + 0.3275911 * {z}))"
    p = (
        f"((0.254829592 * {u} - 0.284496736 * pow({u}, 2)"
        f" + 1.421413741 * pow({u}, 3) - 1.453152027 * pow({u}, 4)"
        f" + 1.061405429 * pow({u}, 5)) * exp(-{z} * {z}))"
    )
    return f"struct({t} AS t_statistic, {p} AS p_value)"


_ARRAY_SPLICE["studentTTest"] = {2: _ttest_template(pooled=True)}
_ARRAY_SPLICE["welchTTest"] = {2: _ttest_template(pooled=False)}

# Splice-composed aggregates used as WINDOW functions: the bare
# templates above emit compound expressions (`(kurtosis(x) + 3.0)`)
# that cannot take a trailing OVER, so `kurtPop(x) OVER (...)` —
# valid ClickHouse — parsed into garbage. These variants thread the
# captured OVER clause onto EVERY internal aggregate call ({w} slots),
# which is exactly the algebra: each moment is windowed independently.
_WINDOWED_MOMENTS: dict[str, dict[int, str]] = {
    "kurtPop": {1: "(kurtosis({0}){w} + 3.0)"},
    "kurtSamp": {
        1: "((kurtosis({0}){w} + 3.0)"
           " * (count({0}){w} - 1.0) / count({0}){w})",
    },
    "skewSamp": {
        1: "(skewness({0}){w}"
           " * sqrt((count({0}){w} - 1.0) / count({0}){w}))",
    },
    "avgWeighted": {2: "(sum(({0}) * ({1})){w} / sum({1}){w})"},
}

# wrappers that are the identity under Spark's nullability model
_IDENTITY_FNS = (
    "assumeNotNull", "toNullable", "materialize",
    # LowCardinality is a storage encoding, not a semantic type; and
    # identity() is CH's optimization-barrier no-op
    "toLowCardinality", "identity",
)


_CH_FMT_MAP = {
    "a": "EEE", "b": "MMM", "c": "MM", "d": "dd", "D": "MM/dd/yy",
    "e": "d", "f": "SSSSSS", "F": "yyyy-MM-dd", "h": "hh", "H": "HH",
    "i": "mm", "I": "hh", "j": "DDD", "k": "H", "l": "h", "m": "MM",
    "M": "MMMM", "p": "a", "Q": "q", "r": "hh:mm:ss a", "R": "HH:mm",
    "s": "ss", "S": "ss", "T": "HH:mm:ss", "W": "EEEE", "y": "yy",
    "Y": "yyyy",
}


def _convert_ch_datetime_format(fmt: str) -> str:
    """ClickHouse/MySQL ``%``-specifier datetime format → the Java
    pattern ``date_format`` takes. Literal runs are quoted (a bare
    letter would otherwise be interpreted as a pattern char); ``%%``
    emits a literal percent; unsupported specifiers raise rather than
    silently formatting the wrong thing."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        run = "".join(lit)
        if any(c.isalpha() or c == "'" for c in run):
            out.append("'" + run.replace("'", "''") + "'")
        else:
            out.append(run)
        lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            spec = fmt[i + 1]
            if spec == "%":
                lit.append("%")
            elif spec == "n":
                lit.append("\n")
            elif spec == "t":
                lit.append("\t")
            elif spec in _CH_FMT_MAP:
                flush()
                out.append(_CH_FMT_MAP[spec])
            else:
                raise ValueError(
                    f"formatDateTime specifier %{spec} has no Spark"
                    " pattern equivalent"
                )
            i += 2
            continue
        lit.append(c)
        i += 1
    flush()
    return "".join(out)


def _strip_window_frame(over_body: str) -> str:
    """Drop the frame clause from a window spec: ClickHouse requires an
    explicit frame for its in-frame functions, Spark's lag/lead REJECT
    one."""
    m = re.search(r"(?is)\b(ROWS|RANGE|GROUPS)\b", over_body)
    return over_body[: m.start()].rstrip() if m else over_body


def _unescape_sql_literal(body: str) -> str:
    """The text of a SQL string literal's body: ``\\x`` -> x and
    ``''`` -> ``'`` (Spark's own literal unescaping)."""
    chars, i = [], 0
    while i < len(body):
        if body[i] == "\\" and i + 1 < len(body):
            chars.append(body[i + 1])
            i += 2
            continue
        if body[i: i + 2] == "''":
            chars.append("'")
            i += 2
            continue
        chars.append(body[i])
        i += 1
    return "".join(chars)


_SQL_STR_LIT = re.compile(r"'(?:[^'\\]|\\.|'')*'")


def _lag_lead_in_frame(sql, m, close, args):
    # lagInFrame/leadInFrame with an explicit frame (the ClickHouse
    # requirement): rename to lag/lead AND strip the frame from their
    # OVER spec (the plain renames handle the frameless form)
    over = _trailing_over(sql, close)
    if over is None:
        return None
    target = "lag" if m.group(1) == "lagInFrame" else "lead"
    body = _strip_window_frame(sql[over[0] + 1: over[1]])
    return (target + sql[m.end() - 1: close + 1] + f" OVER ({body})",
            over[1] + 1)


def _multi_match(sql, m, close, args):
    # multiMatchAny / multiMatchAnyIndex over a LITERAL pattern array:
    # an OR-chain / first-match CASE of RLIKEs (CH runs hyperscan; the
    # index CH returns for multiple hits is unspecified — first-match
    # is this translation's pinned choice). Non-literal pattern sets
    # refuse: the chain must be built at translate time.
    pats = None
    if len(args) == 2:
        am = re.fullmatch(r"\s*array\s*\((.*)\)\s*", args[1], re.S)
        if am:
            items = _split_top_commas(am.group(1))
            if all(re.fullmatch(r"\s*'(?:[^']|'')*'\s*", it) for it in items):
                pats = [it.strip() for it in items]
    if pats is None:
        raise ValueError(
            f"{m.group(1)} translates only for a literal pattern"
            " array — build the RLIKE chain yourself for"
            " computed pattern sets"
        )
    hay = args[0]
    if m.group(1) == "multiMatchAny":
        body = " OR ".join(f"({hay}) RLIKE {p}" for p in pats)
        return f"CAST(({body}) AS INT)"
    whens = " ".join(
        f"WHEN ({hay}) RLIKE {p} THEN {i + 1}" for i, p in enumerate(pats)
    )
    return f"(CASE {whens} ELSE 0 END)"


def _format_row(sql, m, close, args):
    # formatRow('Format', exprs...): literal CSV / TSV / JSONEachRow
    # render through to_csv / concat_ws / to_json (formatRow appends
    # the row terminator, the NoNewline spelling does not)
    fm = re.fullmatch(r"\s*'(\w+)'\s*", args[0]) if args else None
    if not fm or len(args) < 2:
        raise ValueError(
            "formatRow expects a literal format name first:"
            " formatRow('CSV'|'TSV'|'JSONEachRow', exprs...)"
        )
    fmt = fm.group(1)
    cols = ", ".join(a.strip() for a in args[1:])
    if fmt == "CSV":
        body = f"to_csv(struct({cols}))"
    elif fmt in ("TSV", "TabSeparated"):
        # NULLs render as \N like CH (bare concat_ws would SKIP
        # the NULL and silently shift every later column left)
        casts = ", ".join(
            f"coalesce(CAST(({a.strip()}) AS STRING), '\\\\N')"
            for a in args[1:]
        )
        body = f"concat_ws('\\t', {casts})"
    elif fmt == "JSONEachRow":
        body = f"to_json(struct({cols}))"
    else:
        raise ValueError(
            f"formatRow: format {fmt!r} has no SQL spelling —"
            " CSV, TSV and JSONEachRow translate"
        )
    return body if m.group(1) else f"concat({body}, '\\n')"


def _bit_slice(sql, m, close, args):
    # bitSlice(s, offset[, length]) -> the registered ch_bit_slice
    # pandas UDF (functions/strdist.py, returns BINARY); the UDF takes
    # exactly 3 args, so the 2-arg spelling pads a NULL length
    if len(args) == 2:
        args.append("CAST(NULL AS BIGINT)")
    if len(args) != 3:
        raise ValueError("bitSlice takes (s, offset[, length])")
    return f"ch_bit_slice({', '.join(a.strip() for a in args)})"


def _non_negative_derivative(sql, m, close, args):
    # nonNegativeDerivative(metric, ts[, INTERVAL n unit]) OVER (spec):
    # lag-based rate with resets clamped to 0 and the first row NULL —
    # the operators/windows.py:non_negative_derivative semantics.
    # CAST(... AS DOUBLE) reads timestamps as epoch seconds and leaves
    # numerics alone, so both shapes work.
    over = _trailing_over(sql, close)
    if over is None:
        raise ValueError(
            "nonNegativeDerivative translates as a window function —"
            " add an OVER clause, or use"
            " operators/windows.py:non_negative_derivative"
        )
    if len(args) not in (2, 3):
        raise ValueError(
            "nonNegativeDerivative expects (metric, timestamp"
            "[, INTERVAL n unit])"
        )
    scale = ""
    if len(args) == 3:
        im = re.fullmatch(
            r"(?is)\s*INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?\s*",
            args[2],
        )
        if not im:
            raise ValueError(
                "nonNegativeDerivative's third argument must be a"
                " literal INTERVAL n SECOND/MINUTE/HOUR/DAY"
            )
        secs = int(im.group(1)) * _INTERVAL_SECONDS[im.group(2).lower()]
        scale = f" * {secs}.0"
    w = f"({_strip_window_frame(sql[over[0] + 1: over[1]])})"
    mcol, tcol = args[0], args[1]
    lag_t = f"lag(CAST({tcol} AS DOUBLE)) OVER {w}"
    lag_m = f"lag(CAST({mcol} AS DOUBLE)) OVER {w}"
    return (
        f"(CASE WHEN {lag_t} IS NULL THEN NULL"
        f" ELSE greatest((CAST({mcol} AS DOUBLE) - {lag_m})"
        f" / nullif(CAST({tcol} AS DOUBLE) - {lag_t}, 0.0), 0.0)"
        f"{scale} END)"
    ), over[1] + 1


def _array_cols(specs: dict | None) -> frozenset:
    """Columns declared Array(...) in the table specs (the Engine.ch_sql
    path): the reference's own tables carry Array(String) columns
    (migrations/009:24-27), so length(genres) must mean array length
    there. A name is trusted only when it is array-typed in at least
    one spec and non-array in none (ambiguity keeps the string path)."""
    arr_cols: set[str] = set()
    non_arr: set[str] = set()
    for sp in (specs or {}).values():
        for col, cht in getattr(sp, "ch_types", {}).items():
            if cht.strip().startswith("Array("):
                arr_cols.add(col)
            else:
                non_arr.add(col)
    return frozenset(arr_cols - non_arr)


_ARRAYISH_CALL = re.compile(
    r"^(?:array|splitBy\w*|groupArray\w*|groupUniqArray|"
    r"collect_list|collect_set|sequence|range|arrayMap|"
    r"arrayFilter|arraySort|arrayReverseSort|arraySlice|"
    r"arrayConcat|arrayDistinct|array_distinct|arrayCompact|"
    r"arrayIntersect|arrayPushBack|arrayPushFront|"
    r"arrayPopBack|arrayPopFront|extractAll|flatten|"
    r"arrayFlatten|map_keys|mapKeys|map_values|mapValues|"
    r"split|slice|transform|filter|topK|emptyArray\w*|"
    r"arrayReverse|arrayZip|arrays_zip|arrayCumSum|"
    r"arrayDifference|arrayEnumerate\w*|arrayWithConstant|"
    r"array_repeat|arrayResize|arrayRotate\w*|arrayShift\w*|"
    r"arrayInsert|arraySymmetricDifference|arrayFill|"
    r"arrayReverseFill|arrayPartialSort|"
    r"arrayReversePartialSort)\s*\("
)


def _arrayish(arg: str, arr_cols: frozenset) -> bool:
    """Is the argument syntactically evident as an array?"""
    a = arg.strip()
    # strip one layer of grouping parens (identity-fn unwraps leave
    # `(expr)` shells) when they wrap the whole expression
    while (
        a.startswith("(")
        and a.endswith(")")
        and _call_end(a, 0) == len(a) - 1
        and len(_split_top_commas(a[1:-1])) == 1
    ):
        a = a[1:-1].strip()
    if a.startswith("["):
        return True
    if a.upper().startswith("CAST(") and "ARRAY" in a.upper():
        return True
    im = re.fullmatch(r"(?:`?\w+`?\.)?`?(\w+)`?", a)
    if im and im.group(1) in arr_cols:
        return True
    # reverse is string-polymorphic in BOTH engines (ClickHouse
    # reverses strings too), so reverse(x) is array-ish only when
    # its own argument is — routing every reverse() to size() would
    # break length(reverse(s)) on strings. slice/transform/filter
    # only appear here as our own rewrites of arraySlice/arrayMap/
    # arrayFilter (none is a ClickHouse string function), so they
    # stay prefix-matched.
    m = re.match(r"^reverse\s*\((.*)\)\s*$", a, re.S)
    if m:
        return _arrayish(m.group(1), arr_cols)
    return bool(_ARRAYISH_CALL.match(a))


@_lru_cache(maxsize=64)
def _array_size_rules(arr_cols: frozenset) -> tuple:
    # ClickHouse length/empty/notEmpty are polymorphic over strings AND
    # arrays; Spark's length is strings-only and the typed empty alias
    # would stringify an array. A textual rewrite cannot know the type,
    # but array-ness is usually syntactically evident — route those
    # calls to size(); everything else keeps the string path. This pass
    # runs BEFORE _SCALAR_RENAMES so array-certain CH spellings
    # (arrayReverse, arrayConcat, arrayFlatten — renamed to the
    # string-polymorphic reverse/concat/flatten afterwards) are still
    # distinguishable (fuzz_compose finding, r11).
    return _rules(
        ("length", _partial(_array_size, "size({x})", arr_cols), re.I),
        ("notEmpty", _partial(_array_size, "(size({x}) > 0)", arr_cols)),
        ("empty", _partial(_array_size, "(size({x}) <= 0)", arr_cols)),
    )


def _array_size(tmpl, arr_cols, sql, m, close, args):
    if len(args) != 1 or not _arrayish(args[0], arr_cols):
        return None
    return tmpl.format(x=args[0])


def _to_start_of_week(sql, m, close, args):
    # toStartOfWeek(x, mode): even modes start Sunday, odd modes Monday
    # (the 1-arg default-mode form is the Sunday-anchored SQL alias)
    if len(args) != 2:
        return None
    mm = re.fullmatch(r"\s*(\d+)\s*", args[1])
    if not mm:
        raise ValueError("toStartOfWeek mode must be a literal integer")
    x = args[0]
    if int(mm.group(1)) % 2 == 1:
        return f"CAST(date_trunc('WEEK', {x}) AS DATE)"
    return f"date_sub(CAST(({x}) AS DATE), dayofweek({x}) - 1)"


def _now_tz(sql, m, close, args):
    # now('tz') renders the instant in a named zone — convert_timezone
    # from the pinned-UTC session
    return f"convert_timezone('UTC', {args[0]}, now())"


def _format_date_time(sql, m, close, args):
    # formatDateTime with a LITERAL format converts the %-specifiers to
    # the Java pattern date_format understands (passing % through would
    # error or, worse, format the wrong fields); computed formats fall
    # through to the raw alias.
    fm = args[1].strip() if len(args) >= 2 else ""
    if len(args) not in (2, 3) or not _SQL_STR_LIT.fullmatch(fm):
        return None
    if len(args) == 3:
        raise ValueError(
            "formatDateTime with a timezone argument is not"
            " translatable — convert with toTimeZone first"
        )
    # undo the SQL string-literal escaping ('' and \x) before
    # converting, then re-escape for the emitted SQL literal
    java = _convert_ch_datetime_format(_unescape_sql_literal(fm[1:-1]))
    java = java.replace("'", "\\'")
    return f"date_format(CAST({args[0]} AS TIMESTAMP), '{java}')"


def _parse_date_time(sql, m, close, args):
    # parseDateTime[OrNull](s, '%-format'): the MySQL-style parser —
    # convert the literal format with the same table formatDateTime
    # uses and emit [try_]to_timestamp
    if len(args) == 1:
        return None  # 1-arg form is the BestEffort-style alias
    fm = args[1].strip()
    if len(args) != 2 or not _SQL_STR_LIT.fullmatch(fm):
        raise ValueError(
            "parseDateTime translates with (expr, 'literal %-format')"
            " only — use parseDateTimeBestEffort for free-form input"
        )
    java = _convert_ch_datetime_format(fm[1:-1]).replace("'", "\\'")
    fn = "try_to_timestamp" if m.group(1) else "to_timestamp"
    repl = f"{fn}({args[0]}, '{java}')"
    if m.group(1) == "OrZero":
        repl = f"coalesce({repl}, TIMESTAMP'1970-01-01 00:00:00')"
    return repl


def _variadic_char(sql, m, close, args):
    # ClickHouse's variadic char(n1, n2, ...) builds a string from code
    # points (mod 256, which Spark's chr also applies). Multi-arg only:
    # the 1-arg form IS Spark's builtin, and `cast(x as char(10))` is a
    # TYPE — the AS-guard plus the >=2-args condition keeps both intact.
    if len(args) < 2 or re.search(r"(?i)\bas\s*$", sql[: m.start()]):
        return None
    return "concat(" + ", ".join(f"chr({a.strip()})" for a in args) + ")"


def _map_apply(sql, m, close, args):
    # mapApply((k, v) -> (k', v'), m): Spark has no entry-to-entry map
    # HOF, so rebuild through entries — the user's lambda params are
    # substituted with the entry's key/value fields
    lam = args[0].strip() if args else ""
    lm = re.fullmatch(r"\(\s*(\w+)\s*,\s*(\w+)\s*\)\s*->\s*\((.*)\)", lam, re.S)
    if len(args) != 2 or not lm:
        raise ValueError(
            "mapApply translates with ((k, v) -> (keyExpr, valExpr),"
            " map) only"
        )
    kvar, vvar, body = lm.group(1), lm.group(2), lm.group(3)
    parts = _split_top_commas(body)
    if len(parts) != 2:
        raise ValueError("mapApply lambda must return a (key, value) pair")

    def subst(expr: str) -> str:
        expr = re.sub(rf"\b{kvar}\b", "__ch_e.key", expr)
        return re.sub(rf"\b{vvar}\b", "__ch_e.value", expr)

    return (
        f"map_from_entries(transform(map_entries({args[1].strip()}),"
        f" __ch_e -> struct({subst(parts[0])} AS key,"
        f" {subst(parts[1])} AS value)))"
    )


def _format_pattern(sql, m, close, args):
    # format('{} and {n}', ...) with a LITERAL pattern → format_string:
    # {} consumes arguments in order, {n} is 0-based positional; literal
    # % is escaped so it can't be misread as a conversion
    pat = args[0].strip() if args else ""
    if len(args) < 2 or not _SQL_STR_LIT.fullmatch(pat):
        return None  # not the CH pattern form — leave untouched
    body, out, i = pat[1:-1], [], 0
    while i < len(body):
        c = body[i]
        if c == "%":
            out.append("%%")
            i += 1
            continue
        if c == "{":
            j = body.index("}", i)
            ref = body[i + 1: j].strip()
            out.append("%s" if ref == "" else f"%{int(ref) + 1}$s")
            i = j + 1
            continue
        out.append(c)
        i += 1
    new_pat = "'" + "".join(out) + "'"
    return f"format_string({new_pat}, {', '.join(a.strip() for a in args[1:])})"


def _value_transform(sql, m, close, args):
    # ClickHouse's VALUE-MAPPING transform(x, from, to[, default]) vs
    # Spark's 2-arg higher-order transform(arr, lambda): the 3/4-arg
    # form becomes a map lookup (3-arg keeps unmatched values, like CH)
    if len(args) not in (3, 4):
        return None  # Spark HOF form — leave
    x, frm, to = args[0], args[1], args[2]
    dflt = args[3] if len(args) == 4 else x
    return f"coalesce(element_at(map_from_arrays({frm}, {to}), {x}), {dflt})"


_JSON_T = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT", "UInt8": "INT", "UInt16": "INT",
    "UInt32": "BIGINT", "UInt64": "BIGINT", "Float32": "FLOAT",
    "Float64": "DOUBLE", "String": "STRING", "Bool": "BOOLEAN",
}


def _json_keys_and_values(sql, m, close, args):
    # JSONExtractKeysAndValues(j, 'T') -> array of (key, value) structs
    # via a typed MAP parse; the trailing argument is CH's type literal
    tm = re.fullmatch(r"\s*'(\w+)'\s*", args[-1]) if args else None
    if len(args) != 2 or not tm or tm.group(1) not in _JSON_T:
        raise ValueError(
            "JSONExtractKeysAndValues expects (json, 'Type') with a"
            f" literal type of {sorted(_JSON_T)}"
        )
    return (
        f"transform(map_entries(from_json({args[0]},"
        f" 'MAP<STRING, {_JSON_T[tm.group(1)]}>')),"
        " __ch_e -> named_struct('col1', __ch_e.key,"
        " 'col2', __ch_e.value))"
    )


def _json_path(sql, m, close, args):
    # JSON path folding BEFORE the splice table (these names keep their
    # 1/2-arg SQL-alias forms, so an arity miss must pass through, not
    # raise like the splice table does):
    # * multi-key JSONExtract*(j, 'a', 'b', ...) folds the trailing keys
    #   into one dotted path for the 2-arg alias;
    # * 2-arg JSONType(j, key) extracts the element as RAW JSON text
    #   (the VARIANT round-trip keeps string quoting, which
    #   get_json_object strips) and classifies it with the 1-arg alias.
    # Every rewrite leaves a form this handler passes through.
    jname = m.group(1)
    if jname == "JSONType" and len(args) == 2:
        return (
            f"JSONType(to_json(variant_get(try_parse_json({args[0]}),"
            f" concat('$.', {args[1]}), 'variant')))"
        )
    if jname == "JSONLength" and len(args) >= 2:
        # length of the element at the dotted key path (probe batch
        # 58): the raw fragment is valid JSON, so the 1-arg alias
        # classifies it
        path = ", '.', ".join(args[1:])
        return f"JSONLength(get_json_object({args[0]}, concat('$.', {path})))"
    if jname == "JSONExtract" and len(args) >= 2:
        # typed extraction: the LAST argument is the CH type (probe
        # batch 58). Scalars TRY_CAST; Array(T)/typed containers parse
        # via from_json.
        tname = args[-1].strip().strip("'\"")
        spark_t = _spark_type_name(tname)
        am = re.match(r"(?i)^Array\((\w+)\)$", tname)
        if am:
            inner = _spark_type_name(am.group(1)) or am.group(1)
            spark_t = f"ARRAY<{inner}>"
        if spark_t is None:
            raise ValueError(
                f"JSONExtract type {tname!r} is not supported —"
                " scalar ClickHouse types and Array(scalar)"
                " translate; use JSONExtractKeysAndValues or"
                " from_json for richer shapes"
            )
        src = args[0]
        if len(args) >= 3:
            path = ", '.', ".join(args[1:-1])
            src = f"get_json_object({args[0]}, concat('$.', {path}))"
        if am:
            return f"from_json({src}, '{spark_t}')"
        return f"TRY_CAST({src} AS {spark_t})"
    if jname not in ("JSONType", "JSONLength", "JSONExtract") and len(args) >= 3:
        path = ", '.', ".join(args[1:])
        return f"{jname}({args[0]}, concat({path}))"
    return None  # alias-arity form — leave for CREATE FUNCTION


def _pip_pair(a: str) -> list[str]:
    a = a.strip()
    if re.match(r"^tuple\s*\(", a):
        inner = a[a.index("(") + 1: -1]
    elif a.startswith("(") and a.endswith(")"):
        inner = a[1:-1]
    else:
        raise ValueError(
            "pointInPolygon expects (x, y) tuples for the point"
            " and a literal vertex list"
        )
    items = _split_top_commas(inner)
    if len(items) != 2:
        raise ValueError("pointInPolygon points must be 2-D")
    return items


def _point_in_polygon(sql, m, close, args):
    # pointInPolygon((x, y), [(x1, y1), ...]) — even-odd ray casting
    # unrolled over the LITERAL vertex list (the CH calling convention);
    # the point coordinates may be arbitrary expressions
    if len(args) != 2:
        raise ValueError("pointInPolygon expects (point, polygon)")
    px, py = _pip_pair(args[0])
    poly = args[1].strip()
    if poly.startswith("[") and poly.endswith("]"):
        pinner = poly[1:-1]
    elif re.match(r"^array\s*\(", poly):
        pinner = poly[poly.index("(") + 1: -1]
    else:
        raise ValueError(
            "pointInPolygon needs a literal [(x, y), ...] vertex list"
        )
    verts = [_pip_pair(v) for v in _split_top_commas(pinner)]
    crossings = []
    for i in range(len(verts)):
        x1, y1 = verts[i]
        x2, y2 = verts[i - 1]
        crossings.append(
            f"CAST(((({y1}) > ({py})) != (({y2}) > ({py}))"
            f" AND ({px}) < ((({x2}) - ({x1})) * (({py}) - ({y1}))"
            f" / (({y2}) - ({y1})) + ({x1}))) AS INT)"
        )
    return f"((({' + '.join(crossings)}) % 2) = 1)"


def _splice_template(fname: str, args: list[str]) -> str | None:
    forms = _ARRAY_SPLICE[fname]
    tmpl = forms.get(len(args))
    if tmpl is not None:
        return tmpl.format(*args)
    if fname in _SPLICE_PASSTHROUGH:
        # this name also has an SQL-alias arity — leave the unmatched
        # call for CREATE FUNCTION resolution
        return None
    raise ValueError(
        f"{fname} expects {sorted(forms)} argument(s), got {len(args)}"
    )


def _splice_windowed(sql, m, close, args):
    # moment corrections over a window: the OVER spec (or named window)
    # repeats after every aggregate of the expanded template
    fname = m.group(0).split("(")[0].strip()
    om = re.match(r"\s*OVER\b\s*", sql[close + 1:], re.I)
    if not om:
        return _splice_template(fname, args)
    wstart = close + 1 + om.end()
    if wstart < len(sql) and sql[wstart] == "(":
        wend = _call_end(sql, wstart)
        wtxt = " OVER " + sql[wstart: wend + 1]
    else:
        wm = re.match(r"`?\w+`?", sql[wstart:])
        if not wm:
            raise ValueError(f"{fname} OVER: malformed window")
        wtxt = " OVER " + sql[wstart: wstart + wm.end()]
        wend = wstart + wm.end() - 1
    wtpl = _WINDOWED_MOMENTS[fname].get(len(args))
    if wtpl is None:
        raise ValueError(f"{fname} with {len(args)} args has no windowed form")
    return wtpl.format(*args, w=wtxt), wend + 1


def _group_array_insert_at(sql, m, close, args):
    # parametric spelling groupArrayInsertAt(default, size)(x, pos):
    # exactly `size` slots, holes -> `default` (the arity-2 template is
    # the bare spelling, which sizes to max(pos) and leaves holes NULL)
    tail = _trailing_paren(sql, close)
    if tail is None:
        return _splice_template("groupArrayInsertAt", args)
    a2 = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(args) != 2 or len(a2) != 2:
        raise ValueError("groupArrayInsertAt(default, size)(x, pos)")
    return (
        f"transform(sequence(0, CAST(({args[1]}) AS INT)"
        " - 1), __ch_i -> coalesce(try_element_at(filter("
        f"collect_list(named_struct('p',"
        f" CAST(({a2[1]}) AS INT), 'v', ({a2[0]}))),"
        " __ch_e -> __ch_e.p = __ch_i), 1).v,"
        f" ({args[0]})))"
    ), tail[1] + 1


def _splice_e0(sql, m, close, args):
    # plus/minus/multiply and 2-arg arraySum: CH parses bare float
    # literals as Float64; Spark parses them as DECIMAL, whose
    # precision growth the type-preserving folds cannot accumulate
    # (DECIMAL(p)+DECIMAL(p) is DECIMAL(p+1) ≠ the zero's type), and
    # multiply(1.5, 2) would come out DECIMAL(4,1). Decimal COLUMNS
    # remain a documented loud-error deviation: wrap the lambda body
    # in toFloat64. Fragments carrying string literals are left alone;
    # column args keep their types, which is the point of the splice.
    fname = m.group(0).split("(")[0].strip()
    if fname != "arraySum" or len(args) == 2:
        args = [
            a if ("'" in a or '"' in a) else re.sub(
                r"(?<![\w.])(\d+\.\d+)(?![\w.])", r"\1E0", a
            )
            for a in args
        ]
    return _splice_template(fname, args)


def _splice_rule(fname: str, forms: dict):
    if fname in _WINDOWED_MOMENTS:
        return fname, _splice_windowed
    if fname == "groupArrayInsertAt":
        return fname, _group_array_insert_at
    if fname in ("plus", "minus", "multiply", "arraySum"):
        return fname, _splice_e0
    if fname in _SPLICE_PASSTHROUGH:
        return fname, {**forms, None: _PASS}
    return fname, forms


def _array_sort(sql, m, close, args):
    # arraySort / arrayReverseSort: type-preserving (vs the stringifying
    # alias) and supporting ClickHouse's lambda-FIRST key form
    # arraySort(x -> key, a) — sort by key via the struct trick, user's
    # own lambda var kept (its body is user text)
    fname = m.group(0).split("(")[0].strip()
    if len(args) == 1:
        inner = f"array_sort({args[0]})"
    elif len(args) == 2:
        lm = re.match(r"^\s*(\w+)\s*->\s*(.+)$", args[0], re.S)
        if not lm:
            raise ValueError(f"{fname} expects (lambda, array) or (array)")
        var, body = lm.group(1), lm.group(2).strip()
        inner = (
            f"transform(array_sort(transform({args[1]},"
            f" {var} -> struct(({body}) AS k, {var} AS v))),"
            f" __ch_s -> __ch_s.v)"
        )
    else:
        raise ValueError(f"{fname} expects (lambda, array) or (array)")
    return f"reverse({inner})" if fname == "arrayReverseSort" else inner


def _array_reduce(sql, m, close, args):
    # arrayReduce('agg', a): the literal-name meta-aggregate over one
    # array, mapped to the JVM array builtins (sum/avg fold in DOUBLE —
    # documented deviation from CH's integer sums)
    name_m = re.fullmatch(r"\s*'(\w+)'\s*", args[0]) if args else None
    if len(args) != 2 or not name_m:
        raise ValueError("arrayReduce translates with ('aggName', array) only")
    agg, a = name_m.group(1), args[1]
    forms = {
        "max": f"array_max({a})",
        "min": f"array_min({a})",
        "sum": (
            f"aggregate({a}, CAST(0.0 AS DOUBLE),"
            f" (__ch_s, __ch_t) -> __ch_s + __ch_t)"
        ),
        "avg": (
            f"(aggregate({a}, CAST(0.0 AS DOUBLE),"
            f" (__ch_s, __ch_t) -> __ch_s + __ch_t) / size({a}))"
        ),
        "count": f"size({a})",
        "any": f"try_element_at({a}, 1)",
        "anyLast": f"try_element_at({a}, -1)",
        "uniq": f"size(array_distinct({a}))",
        "uniqExact": f"size(array_distinct({a}))",
    }
    if agg not in forms:
        raise ValueError(f"arrayReduce: aggregate {agg!r} not supported")
    return forms[agg]


def _position(sql, m, close, args):
    # ClickHouse position(haystack, needle[, start]) has the OPPOSITE
    # argument order of Spark's position/locate(needle, haystack) —
    # passing it through silently searches the needle for the haystack
    # and returns 0. Flip the comma form to locate(); the SQL-standard
    # position(x IN y) has no top-level comma and is left alone.
    if len(args) not in (2, 3):
        return None
    tail = f", {args[2]}" if len(args) == 3 else ""
    return f"locate({args[1]}, {args[0]}{tail})"


def _multi_if(sql, m, close, args):
    if len(args) < 3 or len(args) % 2 == 0:
        raise ValueError("multiIf expects (c1, v1, ..., else)")
    whens = " ".join(
        f"WHEN {args[i]} THEN {args[i + 1]}" for i in range(0, len(args) - 1, 2)
    )
    return f"(CASE {whens} ELSE {args[-1]} END)"


def _extract_regex(sql, m, close, args):
    # comma-form extract(s, re): ClickHouse's first-regex-match. The
    # EXTRACT(unit FROM ts) builtin form has no top-level comma.
    if len(args) != 2:
        return None
    # group 1 when the pattern literal carries a CAPTURING group:
    # count '(' that are neither backslash-escaped nor followed by
    # '?' (non-capturing / lookaround). Only a literal string
    # pattern can be sniffed — for computed patterns the group
    # index is not inferable at translate time, so refuse loudly
    # rather than silently return the wrong group.
    pat = args[1].strip()
    if not _SQL_STR_LIT.fullmatch(pat):
        raise ValueError(
            "extract(s, re) translates only with a literal string"
            " pattern (the capture-group index must be inferred);"
            " use regexp_extract(s, re, group) directly"
        )
    # two escaping layers: first undo the SQL string-literal escapes
    # (Spark maps \x -> x and '' -> '), THEN count regex-level
    # capturing groups on the resulting pattern
    rx, ncap, i = _unescape_sql_literal(pat[1:-1]), 0, 0
    while i < len(rx):
        if rx[i] == "\\":
            i += 2
            continue
        if rx[i] == "(" and rx[i + 1: i + 2] != "?":
            ncap += 1
        i += 1
    return f"regexp_extract({args[0]}, {args[1]}, {1 if ncap else 0})"


def _range(sql, m, close, args):
    # table position (FROM range(...), JOIN range(...)) is Spark's
    # range TVF — numbers() expands to it; leave it alone. An ARRAY
    # JOIN item is an array expression, not a table.
    if re.search(r"(?i)(?<!\bARRAY\s)\b(FROM|JOIN)$", sql[: m.start()].rstrip()):
        return None
    # [start, end) with the end EXCLUSIVE; the filter keeps the
    # empty range empty (sequence(0, -1) would count DOWN)
    if len(args) == 1:
        a, b, st = "0", args[0], None
    elif len(args) == 2:
        a, b, st = args[0], args[1], None
    elif len(args) == 3:
        a, b, st = args
    else:
        raise ValueError("range expects 1-3 arguments")
    step = f", ({st})" if st else ""
    # collision-improbable lambda var: ({b}) is user text and may
    # reference a column literally named x
    return (
        f"filter(sequence(({a}), greatest(({b}) - 1, ({a})){step}),"
        f" __ch_x -> __ch_x < ({b}))"
    )


def _tuple_element(sql, m, close, args):
    if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
        raise ValueError(
            "tupleElement translates only with a literal index:"
            " tupleElement(t, N) -> (t).colN"
        )
    # a literal tuple argument resolves at translate time —
    # tuple(i, s) names its struct fields after the expressions,
    # so the .colN access would miss (batch-81)
    items = _tuple_items(args[0])
    if items is None:
        return f"({args[0]}).col{args[1]}"
    idx = int(args[1].strip())
    if not 1 <= idx <= len(items):
        raise ValueError(
            f"tupleElement index {idx} out of range for a"
            f" {len(items)}-element tuple"
        )
    return f"({items[idx - 1]})"


def _to_decimal_string(sql, m, close, args):
    if len(args) != 2 or not re.fullmatch(r"\d+", args[1].strip()):
        raise ValueError(
            "toDecimalString translates only with a literal scale:"
            " toDecimalString(x, N)"
        )
    n = min(int(args[1].strip()), 30)  # double precision ceiling
    return f"format_string('%.{n}f', CAST({args[0]} AS DOUBLE))"


def _extract_groups(sql, m, close, args):
    # extractGroups(s, 'pat'): the capture groups of the FIRST match as
    # an array; [] when the pattern does not match (CH semantics).
    # Literal pattern only (group count drives the expansion, via the
    # same class-aware counter as extract).
    ncap = _count_capture_groups(args[1].strip()) if len(args) == 2 else None
    if not ncap:
        raise ValueError(
            "extractGroups translates only with a literal pattern"
            " containing capture groups"
        )
    s_arg, p_arg = args[0], args[1]
    groups = ", ".join(
        f"regexp_extract({s_arg}, {p_arg}, {k})" for k in range(1, ncap + 1)
    )
    return (
        f"CASE WHEN {s_arg} RLIKE {p_arg} THEN array({groups})"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


_AES_FNS = {
    "tryDecrypt": ("try_aes_decrypt", True),
    "decrypt": ("aes_decrypt", True),
    "encrypt": ("aes_encrypt", False),
    "aes_decrypt_mysql": ("aes_decrypt", True),
    "aes_encrypt_mysql": ("aes_encrypt", False),
}


def _aes(sql, m, close, args):
    # encrypt/decrypt family: only aes-{128,192,256}-ecb translates.
    # ECB is deterministic, so Spark's aes_encrypt output is byte-exact
    # vs ClickHouse/OpenSSL (PKCS7 padding both sides — NIST-vector
    # pinned in tests). CBC/GCM refuse loudly: Spark prepends its IV to
    # the ciphertext, ClickHouse does not, so the wire bytes can never
    # agree. aes_*_mysql with a standard-length key is identical to
    # encrypt; MySQL's XOR-fold of over-length keys has no Spark
    # spelling (Spark raises on key length instead of folding).
    name = m.group(0).split("(")[0].strip()
    fn, dec = _AES_FNS[name]
    if len(args) != 3:
        raise ValueError(
            f"{name} translates only as {name}(mode,"
            " input, key) with an aes-*-ecb mode — ECB takes"
            " no IV/AAD, and non-ECB modes do not translate"
            " (Spark prepends the IV to the ciphertext,"
            " ClickHouse does not)"
        )
    mmode = re.fullmatch(r"'aes-(?:128|192|256)-([a-zA-Z0-9]+)'", args[0].strip())
    if not mmode or mmode.group(1).lower() != "ecb":
        raise ValueError(
            f"{name}: only a literal 'aes-<128|192|256>-ecb'"
            " mode translates — CBC/GCM/CTR ciphertext layouts"
            " differ (Spark prepends the IV, ClickHouse does"
            " not), so only ECB is byte-exact"
        )
    repl = f"{fn}({args[1]}, {args[2]}, 'ECB', 'PKCS')"
    return f"CAST({repl} AS STRING)" if dec else repl


def _default_value_of_type_name(sql, m, close, args):
    # defaultValueOfTypeName('T') -> the type's zero value, mapped at
    # translate time from the literal type name
    tname = sql[m.end(): close].strip().strip("'\"")
    base = tname
    nullable = False
    nm = re.fullmatch(r"Nullable\((.*)\)", base)
    if nm:
        nullable, base = True, nm.group(1).strip()
    if re.fullmatch(r"U?Int\d+", base):
        return "CAST(NULL AS BIGINT)" if nullable else "CAST(0 AS BIGINT)"
    if re.fullmatch(r"Float\d+", base):
        return "CAST(NULL AS DOUBLE)" if nullable else "CAST(0.0 AS DOUBLE)"
    if base in ("String", "FixedString"):
        return "CAST(NULL AS STRING)" if nullable else "''"
    if base in ("Date", "Date32"):
        return "CAST(NULL AS DATE)" if nullable else "DATE'1970-01-01'"
    if base.startswith("DateTime"):
        return (
            "CAST(NULL AS TIMESTAMP)" if nullable
            else "TIMESTAMP'1970-01-01 00:00:00'"
        )
    if base == "Bool":
        return "CAST(NULL AS BOOLEAN)" if nullable else "false"
    if base == "UUID":
        return "'00000000-0000-0000-0000-000000000000'"
    if base.startswith("Array("):
        return "array()"
    raise ValueError(
        f"defaultValueOfTypeName: unmapped type {tname!r} — use"
        " an explicit literal"
    )


def _extract_all_groups(sql, m, close, args):
    # extractAllGroups is documented by CH as the vertical form
    fname = m.group(0).split("(")[0].strip()
    ncap = _count_capture_groups(args[1].strip()) if len(args) == 2 else None
    if not ncap:
        raise ValueError(
            f"{fname} translates only with a literal pattern"
            " containing capture groups"
        )
    s_arg, p_arg = args[0], args[1]
    per_group = [
        f"regexp_extract_all({s_arg}, {p_arg}, {k})" for k in range(1, ncap + 1)
    ]
    if fname == "extractAllGroupsHorizontal":
        return f"array({', '.join(per_group)})"
    # one row per match, one element per group: walk group 1's matches
    # by index and pick the same position from each group's extraction
    # (exact — no re-matching of substrings)
    others = ", ".join(f"element_at({g}, __ch_i + 1)" for g in per_group[1:])
    tail = f", {others}" if others else ""
    return f"transform({per_group[0]}, (__ch_x, __ch_i) -> array(__ch_x{tail}))"


def _replace_regexp_one(sql, m, close, args):
    if len(args) != 3:
        raise ValueError("replaceRegexpOne expects (s, pattern, replacement)")
    s_arg, p_arg, r_arg = (a.strip() for a in args)
    # first-match surgery: extract the leftmost match, splice the
    # replacement over its first occurrence. Exact for position-
    # independent patterns (an earlier occurrence of the matched
    # text would itself have been the leftmost match); context-
    # dependent constructs and backreference replacements refuse.
    if _count_capture_groups(p_arg) is None:
        raise ValueError(
            "replaceRegexpOne translates only with a literal pattern"
        )
    if re.search(r"\\b|\(\?<|\(\?=|\(\?!|\^|\$", p_arg):
        raise ValueError(
            "replaceRegexpOne: context-dependent patterns (anchors,"
            " lookaround, word boundaries) do not survive the"
            " first-match splice — use regexp_replace semantics or"
            " restate the pattern"
        )
    if "\\" in r_arg:
        raise ValueError(
            "replaceRegexpOne: backreference replacements are not"
            " supported — use replaceRegexpAll/regexp_replace"
        )
    mvar = f"regexp_extract({s_arg}, {p_arg}, 0)"
    return (
        f"(CASE WHEN {mvar} != '' AND locate({mvar}, {s_arg}) > 0 THEN"
        f" concat(substr({s_arg}, 1, locate({mvar}, {s_arg}) - 1), {r_arg},"
        f" substr({s_arg}, locate({mvar}, {s_arg}) + length({mvar})))"
        f" ELSE {s_arg} END)"
    )


def _timestamp_diff(sql, m, close, args):
    # timestampDiff = dateDiff with the unit possibly UNQUOTED (the
    # MySQL-compatible spelling ClickHouse also accepts)
    if len(args) != 3:
        raise ValueError("timestampDiff expects (unit, start, end)")
    unit = args[0].strip()
    if re.fullmatch(r"\w+", unit):
        unit = f"'{unit}'"
    return f"chDateDiff({unit}, {args[1]}, {args[2]})"


def _morton_decode(sql, m, close, args):
    if len(args) != 2 or args[0].strip() != "2":
        raise ValueError(
            "mortonDecode translates only for 2 dimensions:"
            " mortonDecode(2, code)"
        )
    # BIGINT cast matters: an INT code would wrap its shift count
    # mod 32 at bit positions >= 16 (2*i >= 32)
    z = f"CAST({args[1]} AS BIGINT)"
    return (
        "named_struct("
        f"'col1', aggregate(sequence(0, 31), CAST(0 AS BIGINT),"
        f" (__ch_ac, __ch_i) -> __ch_ac"
        f" + shiftleft((({z}) >> (2 * __ch_i)) & 1, __ch_i)),"
        f"'col2', aggregate(sequence(0, 31), CAST(0 AS BIGINT),"
        f" (__ch_ac, __ch_i) -> __ch_ac"
        f" + shiftleft((({z}) >> (2 * __ch_i + 1)) & 1, __ch_i)))"
    )


def _literal_fold(tmpl, sql, m, close, args):
    return tmpl.format(args[0][1:-1])


# ClickHouse rand()/rand32() are UInt32, rand64() UInt64 — NOT [0,1):
# `rand() % 100` is the canonical CH idiom and would always be 0 under
# Spark's rand(). Rewrite to the ClickHouse range (rand64 via
# shiftleft/OR so the 64-bit form cannot overflow-throw; the sign bit
# reinterprets like halfMD5 — documented). (replacements spell RAND()
# uppercase so the case-exact scan for the shorter names cannot
# re-match inside an earlier replacement)
_RAND32 = "CAST(floor(RAND() * 4294967296) AS BIGINT)"
_NO_ARGS = r"(?=\s*\(\s*\))"

# the scalar-spelling passes of _rewrite_scalar_misc, in pass order (the
# nan/inf literal pass and the specs-aware array-size rules run between
# these tables)
_SCALAR_LITERAL_FOLDS = _rules(
    # Constant-fold literal toDate/toDateTime calls to native DATE/
    # TIMESTAMP literals. Spark inlines SQL UDFs as projections, and a
    # UDF call inside a GROUPING expression breaks aggregate extraction
    # (MISSING_ATTRIBUTES on the UDF parameter — the documented
    # grid-params pitfall; re-found by fuzz_compose on
    # `(d < toDate('...')) AS k ... GROUP BY 1`). Literal args are the
    # overwhelmingly common spelling; non-literal args keep the UDF.
    (r"toDate(?:32)?(?=\s*\(\s*'\d{4}-\d{2}-\d{2}'\s*\))",
     _partial(_literal_fold, "DATE '{0}'")),
    (r"toDateTime(?=\s*\(\s*'\d{4}-\d{2}-\d{2}"
     r"(?:[ T]\d{2}:\d{2}:\d{2})?'\s*\))",
     _partial(_literal_fold, "TIMESTAMP '{0}'")),
)
_SCALAR_RULES_HEAD = _rules(
    (r"(lagInFrame|leadInFrame)", _lag_lead_in_frame),
    (r"(multiMatchAnyIndex)", _multi_match),
    (r"(multiMatchAny)", _multi_match),
    (r"formatRow(NoNewline)?", _format_row),
    # now64(precision[, tz]) -> now64(): Spark timestamps are fixed µs
    # precision, so the precision digit only picks a display scale
    # CH-side; sub-µs (7-9) requests resolve to the same µs clock
    (r"now64(?=\s*\(\s*\d\s*\))", "now64()"),
    ("bitSlice", _bit_slice),
    ("nonNegativeDerivative", _non_negative_derivative),
    # wrappers that are the identity under Spark's nullability model
    *((name, "") for name in _IDENTITY_FNS),
)
_SCALAR_RULES_TAIL = _rules(
    *_SCALAR_RENAMES.items(),
    # 1-arg arrayStringConcat joins with the empty separator
    ("arrayStringConcat", {1: "array_join({0}, '')", None: _PASS}),
    ("toStartOfWeek", _to_start_of_week),
    # 2-arg fromUnixTimestamp(x, '%F') formats with CH %-codes — spell
    # it as formatDateTime over the converted timestamp HERE so the
    # %-conversion rule below picks it up (the 1-arg form is the plain
    # SQL-alias conversion)
    ("fromUnixTimestamp",
     {2: "formatDateTime(timestamp_seconds({0}), {1})", None: _PASS}),
    (r"now(?=\s*\(\s*'[^']+'\s*\))", _now_tz, re.I),
    ("formatDateTime", _format_date_time),
    (r"parseDateTime(OrNull|OrZero)?", _parse_date_time),
    ("char", _variadic_char),
    ("mapApply", _map_apply),
    ("format", _format_pattern),
    ("transform", _value_transform),
    ("JSONExtractKeysAndValues", _json_keys_and_values),
    *((f"({j})", _json_path) for j in (
        "JSONExtractInt", "JSONExtractFloat", "JSONExtractBool",
        "JSONExtractString", "JSONExtractRaw", "JSONExtractArrayRaw",
        "JSONHas", "JSONType", "JSONLength", "JSONExtract",
    )),
    ("pointInPolygon", _point_in_polygon, re.I),
    *(_splice_rule(f, forms) for f, forms in _ARRAY_SPLICE.items()),
    ("arrayReverseSort", _array_sort),
    ("arraySort", _array_sort),
    # arrayReduceInRanges('agg', ranges, a) (probe batch 62): one
    # reduce per (index, length) tuple — rewritten into arrayReduce
    # over slice() so the literal-name rule below finishes the job
    ("arrayReduceInRanges", {
        3: "transform({1}, __ch_rg -> arrayReduce({0},"
           " slice({2}, CAST(__ch_rg.col1 AS INT),"
           " CAST(__ch_rg.col2 AS INT))))",
        None: "arrayReduceInRanges takes ('aggName', ranges, array)",
    }),
    ("arrayReduce", _array_reduce),
    # arrayCompact(a): element-type-preserving consecutive dedup (the
    # SQL-UDF alias would stringify elements); empty-array safe
    ("arrayCompact",
     "(CASE WHEN size(({x})) = 0 THEN ({x}) ELSE"
     " transform(filter(sequence(0, size(({x})) - 1),"
     " __ch_i -> __ch_i = 0 OR NOT(({x})[__ch_i]"
     " <=> ({x})[__ch_i - 1])), __ch_i -> ({x})[__ch_i]) END)"),
    ("position", _position, re.I),
    ("rand64" + _NO_ARGS,
     f"(shiftleft({_RAND32}, 32) | {_RAND32})"),
    ("rand32" + _NO_ARGS, _RAND32),
    ("rand" + _NO_ARGS, _RAND32),
    ("multiIf", _multi_if),
    ("extract", _extract_regex, re.I),
    ("range", _range),
    ("tupleElement", _tuple_element),
    # r6 execution-probe tail: spellings that previously translated
    # untouched and died at run time with UNRESOLVED_ROUTINE
    ("addInterval", {
        2: "({0} + {1})",
        None: "addInterval expects (datetime, INTERVAL expr)",
    }),
    ("subtractInterval", {  # the subtraction twin (batch-82)
        2: "({0} - {1})",
        None: "subtractInterval expects (datetime, INTERVAL expr)",
    }),
    ("toDecimalString", _to_decimal_string),
    ("extractGroups", _extract_groups),
    *((name, _aes) for name in _AES_FNS),
    ("defaultValueOfTypeName", _default_value_of_type_name),
    ("extractAllGroupsVertical", _extract_all_groups),
    ("extractAllGroupsHorizontal", _extract_all_groups),
    ("extractAllGroups", _extract_all_groups),
    ("replaceRegexpOne", _replace_regexp_one),
    ("timestampDiff", _timestamp_diff),
    ("mortonDecode", _morton_decode),
)


_NAN_INF = {"nan": "CAST('NaN' AS DOUBLE)", "inf": "CAST('Infinity' AS DOUBLE)"}
_AS_BEFORE = re.compile(r"(?i)\bAS\s+$")


def _rewrite_scalar_misc(sql: str, specs: dict | None = None) -> str:
    """Polymorphic scalar spellings that need a translate-time rewrite
    rather than a typed SQL-UDF alias: renames (arrayZip → arrays_zip,
    ...), identity wrappers (assumeNotNull/toNullable drop out),
    ``multiIf`` → CASE, comma-form ``extract(s, re)`` → regexp_extract
    (group 1 when the pattern literal has a capture group; EXTRACT(unit
    FROM ts) is left alone), ``range`` → a filtered sequence (empty-
    range safe), literal ``tupleElement(t, N)`` → ``(t).colN``."""
    sql = _rewrite_calls(sql, _SCALAR_LITERAL_FOLDS)
    # ClickHouse's bare nan/inf float literals (batch-73): Spark only
    # spells them as typed casts. Case-exact lowercase (the CH
    # spelling); -inf rides the unary minus unchanged. ALIAS positions
    # (`... AS inf`) and qualified/backquoted names stay identifiers —
    # the round-close suite caught the alias capture. When the query
    # DEFINES an alias of that name, every bare reference is that alias
    # (CH prefer-alias, and a constant literal in GROUP BY/ORDER BY is
    # meaningless anyway) — skip the name entirely (fuzz_compose: GROUP
    # BY inf became GROUP BY CAST('Infinity' AS DOUBLE), a
    # MISSING_AGGREGATION error).
    lits = [
        lit for lit in _NAN_INF
        if not _find_top_anywhere(sql, rf"(?i)\bAS\s+`?{lit}`?\b")
    ]
    if lits:
        sql = _sub_outside_strings(
            sql, _rxc(rf"(?<![.`])\b(?:{'|'.join(lits)})\b"),
            lambda m: None if _AS_BEFORE.search(m.string, 0, m.start())
            else _NAN_INF[m.group(0)],
        )
    sql = _rewrite_calls(sql, _SCALAR_RULES_HEAD)
    sql = _rewrite_calls(sql, _array_size_rules(_array_cols(specs)))
    return _rewrite_calls(sql, _SCALAR_RULES_TAIL)


def _count_capture_groups(pat: str) -> int | None:
    """Capturing-group count of a literal SQL string pattern (both
    escape layers undone), or None when the pattern is not a literal."""
    if not _SQL_STR_LIT.fullmatch(pat):
        return None
    rx, ncap, i = _unescape_sql_literal(pat[1:-1]), 0, 0
    while i < len(rx):
        if rx[i] == "\\":
            i += 2
            continue
        if rx[i] == "[":
            # bracket expression: '(' inside [...] is a literal, not a
            # group.  Regex class rules: ']' is literal when it is the
            # first member (after optional '^').
            j = i + 1
            if j < len(rx) and rx[j] == "^":
                j += 1
            if j < len(rx) and rx[j] == "]":
                j += 1
            while j < len(rx) and rx[j] != "]":
                j += 2 if rx[j] == "\\" else 1
            i = j + 1
            continue
        if rx[i] == "(" and rx[i + 1: i + 2] != "?":
            ncap += 1
        i += 1
    return ncap


_BRACKET = re.compile(r"[\[\]]")


def _bracket_end(s: str, open_idx: int) -> int:
    """Index of the ``]`` matching the ``[`` at ``open_idx``; brackets
    inside literals (_scan_index) do not count."""
    idx = _scan_index(s)
    depth = 0
    for m in _BRACKET.finditer(s, open_idx):
        if _idx_in_string(idx, m.start()):
            continue
        depth += 1 if m.group() == "[" else -1
        if depth == 0:
            return m.start()
    raise ValueError(f"unbalanced brackets after position {open_idx}")


def _open_match(s: str, close_idx: int) -> int:
    """Index of the opener matching the ``)``/``]`` at ``close_idx``;
    brackets inside literals (_scan_index) do not count."""
    closer = s[close_idx]
    pair = {")": "(", "]": "["}[closer]
    idx = _scan_index(s)
    depth = 0
    for j in range(close_idx, -1, -1):
        if (s[j] == closer or s[j] == pair) and not _idx_in_string(idx, j):
            depth += 1 if s[j] == closer else -1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced brackets before position {close_idx}")


# words that can directly precede a bracket ARRAY LITERAL (so the
# bracket is not a subscript on them)
_PRE_LITERAL_KEYWORDS = re.compile(
    r"(?is)^(AND|OR|NOT|IN|ALL|ANY|SOME|THEN|ELSE|WHEN|CASE|SELECT|WHERE|"
    r"PREWHERE|HAVING|BY|AS|ON|JOIN|RETURN|BETWEEN|LIKE|ILIKE|UNION|"
    r"VALUES|DISTINCT|LIMIT|OFFSET|SETTINGS|IS|DIV|MOD|FROM|TOTALS|FILL)$"
)


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax:

    - array literals ``[1, 2, 3]`` → ``array(1, 2, 3)`` (Spark has no
      bracket literal);
    - subscripts ``expr[i]`` → ``element_at(expr, i)`` — 1-based from
      the front, negative from the back for arrays, by-key for maps:
      ClickHouse semantics on both. Spark's 0-based ``[]`` does not
      survive ch_sql; inside the dialect front-end the dialect wins.

    A bracket is a subscript when the previous non-space token is an
    identifier or a closing paren/bracket (postfix chain scanned
    backwards, so ``f(x)[1]`` and ``m['a'][2]`` work); keywords before
    a bracket (``IN [1, 2]``) mean a literal."""
    pos = 0
    while True:
        sidx = _scan_index(sql)
        idx = None
        for i in range(pos, len(sql)):
            if sql[i] == "[" and not _idx_in_string(sidx, i):
                idx = i
                break
        if idx is None:
            return sql
        close = _bracket_end(sql, idx)
        inner = sql[idx + 1: close]
        j = idx - 1
        while j >= 0 and sql[j] in " \t\n":
            j -= 1
        if j >= 0 and (sql[j].isalnum() or sql[j] in "_)]`"):
            k = j
            while k >= 0:
                if sql[k] == "`":
                    # a backquoted name, whatever it holds
                    k = sidx[0][_bisect_right(sidx[0], k) - 1] - 1
                elif sql[k] in ")]":
                    k = _open_match(sql, k) - 1
                elif sql[k].isalnum() or sql[k] in "_.`":
                    k -= 1
                else:
                    break
            base_start = k + 1
            base = sql[base_start: j + 1]
            if _PRE_LITERAL_KEYWORDS.match(base):
                # after IN the bracket is a membership tuple, not an array
                wrap = (
                    f"({inner})" if base.upper() == "IN" else f"array({inner})"
                )
                sql = sql[:idx] + wrap + sql[close + 1:]
                pos = idx
            else:
                sql = (
                    sql[:base_start]
                    + f"try_element_at({base}, {inner})"
                    + sql[close + 1:]
                )
                pos = base_start
        else:
            sql = sql[:idx] + f"array({inner})" + sql[close + 1:]
            pos = idx
    return sql


# toIntervalX(n) → make_interval slot (years, months, weeks, days,
# hours, mins, secs)
# templates produce ANSI year-month / day-time intervals
# (make_ym_interval / make_dt_interval) rather than the legacy
# make_interval CalendarIntervalType: arithmetic semantics are the
# same, but day-time intervals are collectable through PySpark (a bare
# SELECT toIntervalDay(2) returns a timedelta instead of dying in
# fromInternal; year-month collection is still unimplemented in
# PySpark itself — arithmetic is the supported use there)
_INTERVAL_FNS = {
    "toIntervalYear": "make_ym_interval(({x}), 0)",
    "toIntervalQuarter": "make_ym_interval(0, 3 * ({x}))",
    "toIntervalMonth": "make_ym_interval(0, ({x}))",
    "toIntervalWeek": "make_dt_interval(7 * ({x}))",
    "toIntervalDay": "make_dt_interval(({x}))",
    "toIntervalHour": "make_dt_interval(0, ({x}))",
    "toIntervalMinute": "make_dt_interval(0, 0, ({x}))",
    "toIntervalSecond": "make_dt_interval(0, 0, 0, ({x}))",
}


def _tuple_of_intervals(sql, m, close, args):
    # add/subtractTupleOfIntervals(d, (i1, i2, ...)) chains the
    # interval arithmetic left-to-right over a LITERAL tuple (the
    # elements are toIntervalX calls the templates below translate)
    name = m.group(1)
    t = args[1].strip() if len(args) == 2 else ""
    if not (t.startswith("(") and t.endswith(")")):
        raise ValueError(
            f"{name} expects (date, (interval, ...)) with a"
            " literal tuple"
        )
    op = "+" if name == "addTupleOfIntervals" else "-"
    expr = f"({args[0]})"
    for it in _split_top_commas(t[1:-1]):
        expr = f"({expr} {op} {it.strip()})"
    return expr


def _to_interval(sql, m, close, args):
    # the generic toInterval(n, 'Unit') spelling resolves its literal
    # unit to the toIntervalX template
    um = (
        re.fullmatch(r"'(\w+?)s?'", args[1].strip(), re.I)
        if len(args) == 2 else None
    )
    target = f"toInterval{um.group(1).capitalize()}" if um else None
    if target not in _INTERVAL_FNS:
        raise ValueError(
            "toInterval translates only with a literal unit in"
            " Year/Quarter/Month/Week/Day/Hour/Minute/Second —"
            " a computed unit has no static interval type"
        )
    return f"{target}({args[0]})"


_INTERVAL_RULES = _rules(
    ("(addTupleOfIntervals)", _tuple_of_intervals),
    ("(subtractTupleOfIntervals)", _tuple_of_intervals),
    ("toInterval", _to_interval),
    *_INTERVAL_FNS.items(),
)


def _rewrite_intervals(sql: str) -> str:
    """``toIntervalDay(n)`` family → ``make_interval`` (argument can be
    any expression, so a typed SQL-UDF alias can't cover it — intervals
    are not a UDF return type). The generic ``toInterval(n, 'Unit')``
    spelling resolves its literal unit here first; a computed unit has
    no static interval type and refuses."""
    return _rewrite_calls(sql, _INTERVAL_RULES)


_RESAMPLE_MAX_BUCKETS = 1000  # bounded textual expansion


def _resample(sql, m, close, args):
    base = m.group(1)
    outer_if = bool(m.group(2))  # aggResampleIf: -If applied LAST
    params = args
    if len(params) != 3 or not all(
        re.fullmatch(r"-?\d+", p) for p in params
    ):
        raise ValueError(
            f"{base}Resample expects three integer literal"
            " parameters: (start, end, step)"
        )
    start, end, step = (int(p) for p in params)
    if step <= 0 or end <= start:
        raise ValueError(
            f"{base}Resample: need step > 0 and end > start"
        )
    n_buckets = -(-(end - start) // step)
    if n_buckets > _RESAMPLE_MAX_BUCKETS:
        raise ValueError(
            f"{base}Resample: {n_buckets} buckets exceeds the"
            f" {_RESAMPLE_MAX_BUCKETS}-bucket textual-expansion cap"
            " — bucket with width_bucket + groupBy instead"
        )
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            f"{base}Resample(start, end, step)(args..., key)"
        )
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if not args:
        raise ValueError(
            f"{base}Resample(start, end, step)(args..., key)"
        )
    # CH builds combinator names left to right, so both stacking
    # orders are legal spellings: aggIfResample(s,e,p)(args, cond,
    # key) (-If first: cond precedes the resample key) and
    # aggResampleIf(s,e,p)(args, key, cond) (-If last: cond is the
    # final argument). Either way the per-bucket cell is a single
    # -If with the conditions ANDed — emitting a doubled
    # ``<base>IfIf`` name would resolve nowhere.
    extra_conds = []
    if outer_if:
        if len(args) < 2:
            raise ValueError(
                f"{base}ResampleIf(start, end, step)"
                "(args..., key, cond)"
            )
        extra_conds.append(args[-1].strip())
        args = args[:-1]
    plain = base
    if base.endswith("If") and len(base) > 2:
        if len(args) < 2:
            raise ValueError(
                f"{base}Resample(start, end, step)"
                "(args..., cond, key)"
            )
        plain = base[:-2]
        extra_conds.append(args[-2].strip())
        args = args[:-2] + args[-1:]
    key = args[-1].strip()
    lead = ", ".join(a.strip() for a in args[:-1])
    lead = f"{lead}, " if lead else ""
    cells = []
    for i in range(n_buckets):
        lo = start + i * step
        hi = min(lo + step, end)
        cond = f"({key}) >= {lo} AND ({key}) < {hi}"
        for ec in extra_conds:
            cond = f"({ec}) AND {cond}"
        cell = f"{plain}If({lead}{cond})"
        # numeric sum family only: a map-typed cell
        # (sumMapResample) must NOT be coalesced against numeric 0.
        # The -Array sums count too (CH's sumArray default over an
        # empty bucket is 0, and the NULLed-array -If rewrite
        # yields NULL there)
        if plain in ("sum", "sumKahan", "sumWithOverflow", "count",
                     "sumArray", "countArray"):
            cell = f"coalesce({cell}, 0)"
        cells.append(cell)
    return f"array({', '.join(cells)})", tail[1] + 1


def _arg_extreme(sql, m, close, args):
    # -ArgMin / -ArgMax combinators: agg(x) restricted to the rows
    # whose key attains the group extreme — ALL tied rows contribute
    # (min_by/max_by would pick one). One collect_list bound via the
    # single-element transform trick, extreme key from the same array,
    # then the per-base fold over the filtered entries. sum/avg fold
    # in DOUBLE (the documented numeric-fold deviation); min/max/any
    # are type-preserving.
    base, direction = m.group(1), m.group(2)
    # -If stacking: the trailing condition NULLs the whole struct
    # out (collect_list skips NULL elements, so non-matching rows
    # never enter the extreme-key search)
    cond = None
    if m.group(3):
        if len(args) < 2:
            raise ValueError(
                f"{base}Arg{direction}If expects (args..., cond)"
            )
        cond = args[-1].strip()
        args = args[:-1]
    want = 1 if base == "count" else 2
    if len(args) != want:
        raise ValueError(
            f"{base}Arg{direction} expects "
            + ("(key)" if base == "count" else "(x, key)")
        )
    key = args[-1].strip()
    val = key if base == "count" else args[0].strip()
    struct = f"named_struct('v', ({val}), 'k', ({key}))"
    # CH skips rows whose ordering key is NULL (argMin/argMax
    # NULL handling): guard them out of the collected candidate
    # set alongside the -If condition, so a NULL key can never
    # become the "extreme" nor poison the tie filter
    knn = f"(({key}) IS NOT NULL)"
    guard = knn if cond is None else f"(({cond}) AND {knn})"
    struct = f"if({guard}, {struct}, NULL)"
    arr = f"collect_list({struct})"
    ext = "array_min" if direction == "Min" else "array_max"
    # NULL values at the extreme key are skipped by the base
    # aggregate (CH: sum/avg/any ignore NULLs), never poison the
    # fold, and an all-NULL/empty tied set returns NULL (the
    # nullif/NULL-init guards double as the ADVICE zero-match fix:
    # ANSI mode neither divides by zero nor indexes into an empty
    # array here)
    if base == "sum":
        body = (
            "aggregate(__amf, CAST(NULL AS DOUBLE),"
            " (acc, e) -> CASE WHEN e.v IS NULL THEN acc"
            " WHEN acc IS NULL THEN CAST(e.v AS DOUBLE)"
            " ELSE acc + CAST(e.v AS DOUBLE) END)"
        )
    elif base == "count":
        body = "CAST(size(__amf) AS BIGINT)"
    elif base == "avg":
        body = (
            "aggregate(__amf,"
            " named_struct('n', CAST(0 AS DOUBLE),"
            " 'c', CAST(0 AS DOUBLE)),"
            " (acc, e) -> if(e.v IS NULL, acc,"
            " named_struct('n', acc.n + CAST(e.v AS DOUBLE),"
            " 'c', acc.c + CAST(1 AS DOUBLE))),"
            " acc -> acc.n / nullif(acc.c, CAST(0 AS DOUBLE)))"
        )
    elif base == "any":
        body = (
            "try_element_at(filter(__amf,"
            " __amn -> __amn.v IS NOT NULL), 1).v"
        )
    else:  # min / max over the tied rows, type-preserving
        fn = "array_min" if base == "min" else "array_max"
        body = f"{fn}(transform(__amf, __ame -> __ame.v))"
    expr = (
        f"element_at(transform(array({arr}), __ama -> "
        f"element_at(transform(array({ext}(transform(__ama,"
        " __amq -> __amq.k))), __amm -> "
        "element_at(transform(array(filter(__ama,"
        " __ame -> __ame.k <=> __amm)), __amf -> "
        f"{body}), 1)), 1)), 1)"
    )
    return expr


def _t_test_one_sample(sql, m, close, args):
    # studentTTestOneSample(population_mean)(x)
    mu = sql[m.end(): close].strip()
    tail = _trailing_paren(sql, close)
    if tail is None or not mu:
        raise ValueError(
            "studentTTestOneSample expects"
            " studentTTestOneSample(population_mean)(sample)"
        )
    x = sql[tail[0] + 1: tail[1]].strip()
    xd = f"CAST(({x}) AS DOUBLE)"
    t = (
        f"((avg({xd}) - ({mu}))"
        f" / (stddev_samp({xd}) / sqrt(count({xd}))))"
    )
    z = f"(abs({t}) / sqrt(2.0))"
    u = f"(1.0 / (1.0 + 0.3275911 * {z}))"
    p = (
        f"((0.254829592 * {u} - 0.284496736 * pow({u}, 2)"
        f" + 1.421413741 * pow({u}, 3) - 1.453152027 * pow({u}, 4)"
        f" + 1.061405429 * pow({u}, 5)) * exp(-{z} * {z}))"
    )
    expr = f"struct({t} AS t_statistic, {p} AS p_value)"
    return expr, tail[1] + 1


_RESAMPLE_RULES = _rules(
    (r"([a-zA-Z][a-zA-Z0-9]*?)Resample(If)?", _resample),
    (r"(sum|count|min|max|avg|any)Arg(Min|Max)(If)?", _arg_extreme),
    ("studentTTestOneSample", _t_test_one_sample),
)


def _rewrite_resample(sql: str) -> str:
    """ClickHouse's ``-Resample`` combinator:
    ``aggResample(start, end, step)(args..., key)`` buckets the rows by
    ``key`` into ``[start + i*step, min(start + (i+1)*step, end))`` and
    returns the array of per-bucket aggregates.  The rewrite expands to
    ``array(aggIf(args..., bucket_cond_0), ...)`` — the ``-If``
    spellings then translate through the same passes every other CH
    aggregate uses, so ANY base aggregate the dialect supports composes
    (sum/count/avg/uniq/argMax/sumMap/...).  Params must be integer
    literals (the expansion is textual, capped at
    ``_RESAMPLE_MAX_BUCKETS`` buckets with a loud raise).  Empty
    buckets follow each base aggregate's documented empty-set stance
    (sum family coalesces to 0 like CH; the rest keep Spark's NULL).

    Also here: ``studentTTestOneSample(mean)(x)`` — one-sample t from
    plain moment aggregates, p-value via the same A&S erfc normal
    approximation the two-sample template uses."""
    # uniqCombined[64](precision)(x) -> the plain spelling: the HLL
    # precision knob has no approx_count_distinct equivalent (Spark
    # tunes by relative error, and the default is the same 2-3% class)
    sql = _sub_outside_strings(
        sql,
        re.compile(r"\buniqCombined64\s*\(\s*\d+\s*\)\s*\("),
        "uniqCombined64(",
    )
    sql = _sub_outside_strings(
        sql,
        re.compile(r"\buniqCombined\s*\(\s*\d+\s*\)\s*\("),
        "uniqCombined(",
    )
    return _rewrite_calls(sql, _RESAMPLE_RULES)


def _time_decayed_running_route(
    kind: str, lam: str, texpr: str, vexpr: str, spec: str, targ: str
) -> str | None:
    """The O(1)-per-row plan for the UNBOUNDED running-frame spelling
    of exponentialTimeDecayed* (see _rewrite_time_decayed's scale
    note). Returns the replacement expression, or None when the spec
    is not the routable shape (bounded frame, DESC time, or the time
    argument not leading the ORDER BY) — the caller falls back to the
    exact O(frame) HOF fold."""
    sm = re.match(
        r"(?is)^\s*(?:PARTITION\s+BY\s+(?P<part>.*?)\s+)?"
        r"ORDER\s+BY\s+(?P<obys>.*?)\s*"
        r"(?P<frame>(?:ROWS|RANGE)\s+(?:BETWEEN\s+)?UNBOUNDED\s+"
        r"PRECEDING(?:\s+AND\s+CURRENT\s+ROW)?)?\s*$",
        spec,
    )
    if not sm or not sm.group("obys"):
        return None
    # a frame that is NOT the unbounded running shape fails the lazy
    # frame group and gets swallowed into obys — reject it there
    if re.search(r"(?is)\b(?:ROWS|RANGE|GROUPS)\b", sm.group("obys")):
        return None
    okeys = _split_top_commas(sm.group("obys"))
    k1 = re.sub(r"(?is)\s+ASC\s*$", "", okeys[0].strip()).strip()
    if re.search(r"(?is)\b(DESC|NULLS)\b", okeys[0]):
        return None

    def _norm(s: str) -> str:
        return re.sub(r"[\s`]+", "", s)

    if _norm(k1) != _norm(targ):
        return None
    frame = (sm.group("frame") or "").strip().upper()
    rows_frame = frame.startswith("ROWS")
    part = (sm.group("part") or "").strip()
    width = repr(600.0 * float(lam))
    seg = f"CAST(FLOOR(({texpr}) / {width}) AS BIGINT)"
    d = f"(({texpr}) - {seg} * {width})"
    u = f"exp({d} / ({lam}))"
    w = u if kind == "Count" else f"(({vexpr}) * {u})"
    a_part = f"PARTITION BY {part + ', ' if part else ''}{seg}"
    a_order = f"ORDER BY {sm.group('obys')}"
    a_frame = (
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if rows_frame
        else ""  # default RANGE frame: all ts-ties included, like CH
    )
    a_spec = f"{a_part} {a_order}{a_frame}"
    p_spec = (
        f"{'PARTITION BY ' + part + ' ' if part else ''}"
        f"ORDER BY {seg} RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING"
    )

    def running(agg: str, weight: str, empty: str) -> str:
        prev = f"coalesce({agg}({weight}) OVER ({p_spec}), {empty})"
        mine = f"{agg}({weight}) OVER ({a_spec})"
        if agg == "max":
            return f"greatest({mine}, exp(-600.0D) * {prev})"
        return f"({mine} + exp(-600.0D) * {prev})"

    scale = f"exp(-({d}) / ({lam}))"
    if kind in ("Sum", "Count"):
        return f"({scale} * {running('sum', w, '0.0D')})"
    if kind == "Max":
        neg_inf = "CAST('-Infinity' AS DOUBLE)"
        return f"({scale} * {running('max', w, neg_inf)})"
    # Avg: decayed sum over decayed count — the shared scale cancels,
    # so skip it (also dodges 0-adjacent rounding)
    wc = u
    return (
        f"({running('sum', w, '0.0D')}"
        f" / {running('sum', wc, '0.0D')})"
    )


def _time_decayed(sql, m, close, args):
    kind = m.group(1)
    name = f"exponentialTimeDecayed{kind}"
    lam = sql[m.end(): close].strip()
    if not re.fullmatch(r"[0-9]+(?:\.[0-9]+)?", lam):
        raise ValueError(
            f"{name} needs a literal numeric decay length"
            " (in the time column's units; seconds for timestamps)"
        )
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            f"{name} uses the parametric spelling: {name}(x)("
            + ("time)" if kind == "Count" else "value, time)")
        )
    close2 = tail[1]
    args = _split_top_commas(sql[tail[0] + 1: close2])
    want = 1 if kind == "Count" else 2
    if len(args) != want:
        raise ValueError(
            f"{name}(x) takes {want} argument(s): "
            + ("(time)" if kind == "Count" else "(value, time)")
        )
    over = _trailing_over(sql, close2)
    nm = re.match(r"(?is)\s*OVER\s+`?(\w+)`?", sql[close2 + 1:])
    if over:
        spec, close3 = sql[over[0] + 1: over[1]], over[1]
    elif nm:
        # OVER <name>: resolve the named window from the WINDOW
        # clause — the emitted collect_list needs the spec inline
        # (the WINDOW clause itself stays; Spark supports it)
        wname = nm.group(1)
        # the WINDOW clause sits after the SELECT list that uses
        # OVER <name>, at the same nesting depth — which is NOT
        # top level for subqueries, so scan string-safely at any
        # depth and take the first definition past the call site
        wm = _find_top_anywhere(
            sql, rf"\bWINDOW\s+`?{wname}`?\s+AS\s*\(", close2 + 1
        )
        if not wm:
            raise ValueError(
                f"{name} OVER {wname}: no WINDOW {wname} AS (...)"
                " clause found to resolve the named window"
            )
        wopen = sql.index("(", wm.end() - 1)
        spec = sql[wopen + 1: _call_end(sql, wopen)]
        close3 = close2 + nm.end()
    else:
        raise ValueError(
            f"{name} translates as a window function — add an OVER"
            " clause, or use operators/windows.py:"
            "exponential_moving_average for grouped smoothing"
        )
    # via TIMESTAMP first: NTZ (parquet naive times) cannot cast
    # straight to DOUBLE; LTZ is identity; numerics read as seconds
    # (µs-quantized — exact for any realistic epoch value)
    texpr = f"CAST(CAST(({args[-1].strip()}) AS TIMESTAMP) AS DOUBLE)"
    vexpr = (
        "CAST(1 AS DOUBLE)"
        if kind == "Count"
        else f"CAST(({args[0].strip()}) AS DOUBLE)"
    )
    routed = _time_decayed_running_route(
        kind, lam, texpr, vexpr, spec, args[-1].strip()
    )
    if routed is not None:
        return routed, close3 + 1
    arr = (
        f"collect_list(named_struct('v', {vexpr}, 't', {texpr}))"
        f" OVER ({spec})"
    )
    w = f"exp((e.t - __edt) / ({lam}))"
    if kind in ("Sum", "Count"):
        body = (
            "aggregate(__eda, CAST(0 AS DOUBLE),"
            f" (acc, e) -> acc + e.v * {w})"
        )
    elif kind == "Max":
        body = (
            "aggregate(__eda, CAST('-Infinity' AS DOUBLE),"
            f" (acc, e) -> greatest(acc, e.v * {w}))"
        )
    else:  # Avg
        body = (
            "aggregate(__eda,"
            " named_struct('n', CAST(0 AS DOUBLE), 'd', CAST(0 AS DOUBLE)),"
            f" (acc, e) -> named_struct('n', acc.n + e.v * {w},"
            f" 'd', acc.d + {w}),"
            " acc -> acc.n / acc.d)"
        )
    expr = (
        f"element_at(transform(array({arr}), __eda -> "
        "element_at(transform(array(array_max(transform(__eda,"
        f" __edq -> __edq.t))), __edt -> {body}), 1)), 1)"
    )
    return expr, close3 + 1


_TIME_DECAYED = _rules(
    (r"exponentialTimeDecayed(Sum|Count|Max|Avg)", _time_decayed),
)


def _rewrite_time_decayed(sql: str) -> str:
    """ClickHouse ``exponentialTimeDecayed{Sum,Count,Max,Avg}(x)(v, t)
    OVER (spec)`` window functions → a collect_list window + HOF fold.

    Semantics (ClickHouse AggregateFunctionExponentialTimeDecayed*):
    per row, each frame event carries weight ``exp((t_i - T) / x)``
    where ``T`` is the MAX time in the frame (for the usual ORDER BY
    time ascending frame, the current row's time) — Sum returns
    ``sum(v_i * w_i)``, Count ``sum(w_i)`` (time is its only argument),
    Max ``max(v_i * w_i)``, Avg ``sum(v_i * w_i) / sum(w_i)``.

    Anchoring at the frame max is also what makes the fold numerically
    safe at any epoch scale: every weight exponent is <= 0, so the
    rewrite never computes ``exp(huge)`` — the reason the previous
    refusal called this "a two-phase pass no inline rewrite can
    express".  The two phases are expressed as nested single-element
    ``transform`` bindings: the collected frame array binds once to a
    lambda variable, its max time binds next, then the O(n) fold runs —
    one window evaluation per call, no quadratic re-scan.

    Timestamps are CAST AS DOUBLE (epoch seconds, same convention as
    nonNegativeDerivative), so ``x`` is in seconds for timestamp
    columns and in the column's own units for numerics.  The decay
    length must be a numeric literal.  Without an OVER clause these
    raise (ClickHouse documents the family as window functions; the
    grouped-aggregate path is operators/windows.py:
    exponential_moving_average).

    Scale note: the per-row frame array is O(frame) memory, O(frame²)
    per partition across rows — exact and fine for bounded
    dashboard-sized frames. The UNBOUNDED running spelling (frame
    absent, or ROWS/RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW,
    with the time argument leading the ORDER BY ascending) AUTO-ROUTES
    to an O(1)-per-row segmented two-running-sums plan instead (round
    8): anchor each event's weight at its absolute time segment of
    width 600·x — ``u = exp(((t mod 600x))/x)`` stays in [1, e^600],
    representable — then

        result = e^(-d/x) · (Σ_same-segment v·u
                             + e^(-600) · Σ_prev-segment v·u)

    where both sums are plain incremental window aggregates (running
    prefix within (partition, segment); previous segment via ORDER BY
    segment RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING). No per-row
    frame array — the plan is pure Window exec with
    UnboundedPreceding/Range frames, O(rows) total. Events two or more
    segments back carry weight < e^(-600) ≈ 2.6e-261 and are truncated
    (the HOF fold would keep their denormal dust); association differs
    from the fold by ~1e-12 relative — callers rounding output (the
    universal practice for decayed scores) see identical values. The
    applyInPandas twin operators/windows.py:time_decayed remains for
    DataFrame-API users.
    """
    return _rewrite_calls(sql, _TIME_DECAYED)


def _retention(sql, m, close, args):
    if not args:
        raise ValueError("retention expects at least one condition")
    r1 = f"max(if({args[0]}, 1, 0))"
    elems = [r1] + [f"({r1} * max(if({c}, 1, 0)))" for c in args[1:]]
    return f"array({', '.join(elems)})"


_SEQ_TOKEN = re.compile(
    r"\(\?(\d+)\)"
    r"|\(\?t\s*(<=|>=|==|<|>)\s*(\d+(?:\.\d+)?)\)"
    r"|\.\*"
)


def _sequence_tokens(pat: str) -> tuple[list[tuple], int]:
    """The sequenceMatch/sequenceCount pattern grammar: (?N) condition
    refs, .* separators and (?t op n) time gaps, read from the start;
    returns the tokens and where the reading stopped."""
    toks, pos = [], 0
    for tm in _SEQ_TOKEN.finditer(pat):
        if tm.start() != pos:
            break
        pos = tm.end()
        if tm.group(1):
            toks.append(("ref", tm.group(1)))
        elif tm.group(2):
            toks.append(("gap", tm.group(2), tm.group(3)))
        else:
            toks.append(("any",))
    return toks, pos


def _sequence_match(sql, m, close, args):
    pat = sql[m.end(): close].strip().strip("'\"")
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            "sequenceMatch expects sequenceMatch('(?1).*(?2)')(ts, conds...)"
        )
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    ts, conds = args[0], args[1:]
    # token grammar: (?N) condition refs, .* (any events between),
    # and (?t OP n) time gaps.  Two refs with NOTHING between them
    # ('(?1)(?2)') are ADJACENT in ClickHouse: the matched events
    # must be consecutive among events matching ANY listed condition
    # (the docs' example with a third matching condition returns 0)
    # — translated exactly below via a no-event-between clause.
    # Deviation note: a (?t op n) separator is treated as the time
    # bound alone (intermediate matching events allowed), the
    # funnel-with-deadline reading.
    toks, pos2 = _sequence_tokens(pat)
    order = [t[1] for t in toks if t[0] == "ref"]
    ok = bool(order) and pos2 == len(pat)
    # align each (?t op n) to the adjacent ref pair it sits between;
    # a ref directly following another ref marks that pair adjacent
    gaps: list[tuple[str, str] | None] = [None] * max(len(order) - 1, 0)
    adjacent: list[bool] = [False] * max(len(order) - 1, 0)
    ref_i = -1
    prev_tok = None
    for t in toks:
        if t[0] == "ref":
            if prev_tok is not None and prev_tok[0] == "ref" and ref_i + 1 < len(order):
                adjacent[ref_i + 1 - 1] = True
            ref_i += 1
        elif t[0] == "gap":
            if ref_i < 0 or ref_i >= len(order) - 1 or gaps[ref_i]:
                ok = False  # leading/trailing/doubled time condition
            else:
                gaps[ref_i] = (t[1], t[2])
        prev_tok = t
    if toks and toks[-1][0] == "gap":
        ok = False
    if not ok:
        raise ValueError(
            f"sequenceMatch pattern {pat!r} is not a sequential"
            " (?1)[.*|(?t op n)](?2)... form — use"
            " operators.windows.sequence_match"
        )
    fields = ", ".join(
        [f"CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) AS t"]
        + [f"({c}) AS s{i + 1}" for i, c in enumerate(conds)]
    )
    if any(gaps) or any(adjacent):
        # Time-bounded chains need EXACT re-anchoring (an upper
        # bound makes the greedy chain incomplete: A@0 A@100 B@105
        # under t<=10 only matches via the second A), and adjacency
        # needs backtracking a greedy fold can't do — so emit the
        # nested-exists search — the SQL spelling of
        # operators/windows.py:sequence_match_times.  Catalyst
        # dedupes the semantically-equal collect_list aggregates,
        # so the repeated {evs} text is one physical buffer.
        evs = f"collect_list(struct({fields}))"
        gap_op = {"==": "="}
        # ClickHouse adjacency counts events matching ANY listed
        # condition (referenced or not) as separators
        def _anycond(var: str) -> str:
            return " OR ".join(f"{var}.s{j + 1}" for j in range(len(conds)))

        def nest(i: int) -> str:
            var = f"__ch_e{i}"
            c = [f"{var}.s{order[i]}"]
            if i > 0:
                prev = f"__ch_e{i - 1}"
                c.append(f"{var}.t > {prev}.t")
                if gaps[i - 1]:
                    op, n = gaps[i - 1]
                    c.append(
                        f"({var}.t - {prev}.t) {gap_op.get(op, op)} {n}"
                    )
                if adjacent[i - 1]:
                    z = f"__ch_z{i}"
                    c.append(
                        f"NOT exists({evs}, {z} -> ({_anycond(z)})"
                        f" AND {z}.t > {prev}.t AND {z}.t < {var}.t)"
                    )
            body = " AND ".join(c)
            if i + 1 < len(order):
                body += f" AND exists({evs}, {nest(i + 1)})"
            return f"{var} -> {body}"

        expr = f"exists({evs}, {nest(0)})"
    else:
        # pure sequential form: the greedy-earliest fold is complete
        # for existence (if any chain exists, the greedy one does)
        evs = f"array_sort(collect_list(struct({fields})))"
        init = "named_struct('d', 0, 'p', CAST(0.0 AS DOUBLE))"
        cases = []
        for k, ref in enumerate(order, start=1):
            guard = "" if k == 1 else " AND __ch_e.t > __ch_ac.p"
            cases.append(
                f"WHEN __ch_ac.d = {k - 1} AND __ch_e.s{ref}{guard} THEN"
                f" named_struct('d', {k}, 'p', __ch_e.t)"
            )
        expr = (
            f"(aggregate({evs}, {init},"
            f" (__ch_ac, __ch_e) -> CASE {' '.join(cases)}"
            f" ELSE __ch_ac END,"
            f" __ch_ac -> __ch_ac.d) = {len(order)})"
        )
    return expr, tail[1] + 1


def _sequence_count(sql, m, close, args):
    pat = sql[m.end(): close].strip().strip("'\"")
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            "sequenceCount expects sequenceCount('(?1).*(?2)')(ts, conds...)"
        )
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    ts, conds = args[0], args[1:]
    toks, pos2 = _sequence_tokens(pat)
    order = [t[1] for t in toks if t[0] == "ref"]
    if not order or pos2 != len(pat) or toks[0][0] == "gap" or toks[-1][0] == "gap":
        raise ValueError(
            f"sequenceCount pattern {pat!r} is not a sequential"
            " (?1)[.*|(?t op n)](?2)... form — use"
            " operators.stats.sequence_count"
        )
    # edges[i] (between ref i+1 and ref i+2, 0-indexed): "adj" when
    # the refs are directly adjacent (ClickHouse adjacency: the two
    # matched events must be CONSECUTIVE among events matching ANY
    # listed condition), ("gap", op, n) for a (?t op n) separator
    # (the r5-documented funnel-with-deadline reading: time bound
    # alone, intermediate matching events allowed), "any" for .*
    edges: list = []
    pend: list = []
    started = False
    for t in toks:
        if t[0] == "ref":
            if started:
                if any(p[0] == "gap" for p in pend):
                    gaps_here = [p for p in pend if p[0] == "gap"]
                    if len(gaps_here) > 1:
                        raise ValueError(
                            f"sequenceCount pattern {pat!r}: doubled"
                            " time condition between two refs"
                        )
                    edges.append(("gap", gaps_here[0][1], gaps_here[0][2]))
                elif pend:
                    edges.append(("any",))
                else:
                    edges.append(("adj",))
            started, pend = True, []
        else:
            pend.append(t)
    adjacent = [e[0] == "adj" for e in edges]
    fields = ", ".join(
        [f"CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) AS t"]
        + [f"({c}) AS s{i + 1}" for i, c in enumerate(conds)]
    )
    # Greedy non-overlapping counter (CH semantics: earliest-completing
    # match first, then the search restarts after the match's last
    # event).
    evs = f"array_sort(collect_list(struct({fields})))"
    L = len(order)
    has_gap = any(e[0] == "gap" for e in edges)
    if has_gap:
        # Timed multi-slot NFA (r7, replacing the r6 single-slot
        # fold): per depth keep the live SET of previous-ref
        # timestamps, compressed by what the depth's OUTGOING edge
        # can distinguish. All chains advancing on one event share
        # its time t, so each set holds distinct event times.
        #   '>'/'>=' edges: the EARLIEST time strictly dominates
        #     (both the strict-after guard and the lower bound favor
        #     smaller p, ties included) — one slot.
        #   '<='/'<'/'.*' edges: the latest time dominates EXCEPT
        #     at equal timestamps — the strict t > p guard can fail
        #     for the max while a discarded smaller value passes
        #     (found by a tie repro: '(?2)(?t<=5)(?1)' on B@1 B@2
        #     A@2 — the r6 single-slot fold answered 0, reference
        #     1). Keeping the TWO largest distinct values is exact:
        #     any future event time t' >= max, so the best usable
        #     p is max (when max < t') or the second-max (when
        #     max == t', and second-max < max <= t' always passes).
        #   '==' edges: NO dominance order exists (a chain with
        #     time p fires only at exactly p + n), so the full
        #     distinct set is kept, capped at 64 with a loud
        #     runtime error naming the rewrite.
        #   adjacency edges: killed by any listed event, as in the
        #     bitmask NFA.
        # Completion resets every slot (CH's non-overlapping
        # restart). Validated against the backtracking reference on
        # exhaustive grids with and without ties
        # (tests/test_property.py).
        any_cond = " OR ".join(
            f"__ch_e.s{j + 1}" for j in range(len(conds))
        )
        empty = "CAST(array() AS ARRAY<DOUBLE>)"
        init_arr = "array(" + ", ".join([empty] * (L - 1)) + ")"

        def gapok(i: int, p: str) -> str:
            e = edges[i]
            if e[0] == "gap":
                op = {"==": "="}.get(e[1], e[1])
                return (
                    f"(__ch_e.t > {p} AND __ch_e.t - {p} {op} {e[2]})"
                )
            return f"__ch_e.t > {p}"

        slot_exprs = []
        for d in range(1, L):  # depth d lives in 0-indexed slot d-1
            if d == 1:
                adv = f"__ch_e.s{order[0]}"
            else:
                adv = (
                    f"(__ch_e.s{order[d - 1]} AND"
                    f" exists(__ch_ac.p[{d - 2}],"
                    f" __ch_q -> {gapok(d - 2, '__ch_q')}))"
                )
            out_edge = edges[d - 1]
            if out_edge[0] == "adj":
                ns = (
                    f"CASE WHEN {adv} THEN array(__ch_e.t)"
                    f" ELSE {empty} END"
                )
            elif out_edge[0] == "gap" and out_edge[1] == "==":
                base = f"__ch_ac.p[{d - 1}]"
                grown = (
                    f"CASE WHEN {adv} THEN"
                    f" CASE WHEN array_contains({base}, __ch_e.t)"
                    f" THEN {base}"
                    f" ELSE concat({base}, array(__ch_e.t)) END"
                    f" ELSE {base} END"
                )
                ns = (
                    f"CASE WHEN size({grown}) > 64 THEN"
                    f" array(CAST(assert_true(false,"
                    f" 'sequenceCount (?t == n): more than 64 live"
                    f" chains at depth {d} — restate the bound as a"
                    f" range or use operators.stats.sequence_count')"
                    f" AS DOUBLE))"
                    f" ELSE {grown} END"
                )
            elif out_edge[0] == "gap" and out_edge[1] in (">", ">="):
                base = f"__ch_ac.p[{d - 1}]"
                ns = (
                    f"CASE WHEN {adv} AND size({base}) = 0"
                    f" THEN array(__ch_e.t) ELSE {base} END"
                )
            else:
                # '.*' or '<='/'<' gap: keep the TWO largest
                # distinct times (max may be blocked by the strict
                # t > p guard at a tie; second-max always passes it)
                base = f"__ch_ac.p[{d - 1}]"
                ns = (
                    f"CASE WHEN NOT ({adv}) THEN {base}"
                    f" WHEN size({base}) = 0 THEN array(__ch_e.t)"
                    f" WHEN element_at({base}, -1) = __ch_e.t"
                    f" THEN {base}"
                    f" ELSE array(element_at({base}, -1), __ch_e.t)"
                    f" END"
                )
            slot_exprs.append(ns)
        complete = (
            f"__ch_e.s{order[L - 1]} AND"
            f" exists(__ch_ac.p[{L - 2}],"
            f" __ch_q -> {gapok(L - 2, '__ch_q')})"
        )
        expr = (
            f"aggregate({evs}, named_struct('c', 0, 'p', {init_arr}),"
            f" (__ch_ac, __ch_e) -> CASE"
            f" WHEN NOT ({any_cond}) THEN __ch_ac"
            f" WHEN {complete} THEN"
            f" named_struct('c', __ch_ac.c + 1, 'p', {init_arr})"
            f" ELSE named_struct('c', __ch_ac.c,"
            f" 'p', array({', '.join(slot_exprs)})) END,"
            f" __ch_ac -> __ch_ac.c)"
        )
    elif any(adjacent):
        # Adjacency makes a single live chain insufficient: an event
        # can match BOTH the expected next ref and the anchor of a
        # better chain (exhaustively confirmed: greedy-with-fallback
        # miscounts '(?1)(?2)(?3)(?1)' on A B A B A A). Exact method:
        # NFA subset simulation — the state is a bitmask of live
        # depths (bit d = a chain has matched refs 1..d). Per listed
        # event: a live depth advances when the event matches its
        # expected ref; it also SURVIVES the event only if its
        # incoming wait-edge is '.*' (an adjacent edge is broken by
        # any other listed event); depth 0 is always live. Any chain
        # reaching depth L completes: count += 1 and the frontier
        # resets to {0} (non-overlapping restart, event consumed).
        # Events matching no listed condition are invisible. Equal
        # timestamps process in array-sort order (CH leaves tie order
        # unspecified). Exactness is property-tested against a
        # backtracking reference matcher (tests/test_property.py).
        any_cond = " OR ".join(f"__ch_e.s{j + 1}" for j in range(len(conds)))
        surv = 1  # bit 0
        for d in range(1, L):
            if not adjacent[d - 1]:
                surv |= 1 << d
        adv = " | ".join(
            f"(CASE WHEN (__ch_ac.s & {1 << d}) != 0"
            f" AND __ch_e.s{order[d]} THEN {1 << (d + 1)} ELSE 0 END)"
            for d in range(L)
        )
        expr = (
            f"aggregate({evs}, named_struct('s', 1, 'c', 0),"
            f" (__ch_ac, __ch_e) -> CASE"
            f" WHEN NOT ({any_cond}) THEN __ch_ac"
            f" WHEN (({adv}) & {1 << L}) != 0 THEN"
            f" named_struct('s', 1, 'c', __ch_ac.c + 1)"
            f" ELSE named_struct('s',"
            f" CAST(1 | (__ch_ac.s & {surv}) | ({adv}) AS INT),"
            f" 'c', __ch_ac.c) END,"
            f" __ch_ac -> __ch_ac.c)"
        )
    else:
        # Pure '.*' (subsequence) patterns: the scalar greedy fold is
        # exact — consuming the expected ref at the earliest possible
        # event never delays completion (exchange argument for
        # subsequence matching), and the completing step resets depth
        # for the non-overlapping restart.
        init = "named_struct('d', 0, 'p', CAST(0.0 AS DOUBLE), 'c', 0)"
        cases = []
        for k, ref in enumerate(order, start=1):
            guard = "" if k == 1 else " AND __ch_e.t > __ch_ac.p"
            if k < L:
                nxt = f"named_struct('d', {k}, 'p', __ch_e.t, 'c', __ch_ac.c)"
            else:
                nxt = "named_struct('d', 0, 'p', __ch_e.t, 'c', __ch_ac.c + 1)"
            cases.append(
                f"WHEN __ch_ac.d = {k - 1} AND __ch_e.s{ref}{guard} THEN {nxt}"
            )
        expr = (
            f"aggregate({evs}, {init},"
            f" (__ch_ac, __ch_e) -> CASE {' '.join(cases)}"
            f" ELSE __ch_ac END,"
            f" __ch_ac -> __ch_ac.c)"
        )
    return expr, tail[1] + 1


def _window_funnel(sql, m, close, args):
    known_modes = {
        "strict_order",
        "strict_deduplication",
        "strict_dedup",
        "strict_increase",
        # pre-21.x spelling, deprecated alias of strict_deduplication
        "strict",
    }
    modes = set()
    for p in args[1:]:
        mode = p.strip().strip("'\"")
        if mode not in known_modes:
            raise ValueError(f"windowFunnel: unknown mode {mode!r}")
        modes.add(
            "strict_dedup"
            if mode in ("strict_deduplication", "strict")
            else mode
        )
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError("windowFunnel expects windowFunnel(W)(ts, conds...)")
    params, args = args, _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(args) < 2:
        raise ValueError("windowFunnel expects (timestamp, cond1, ...)")
    w, ts, conds = params[0], args[0], args[1:]
    # epoch seconds for the window math; the TIMESTAMP hop also
    # accepts TIMESTAMP_NTZ and numeric time columns uniformly
    fields = ", ".join(
        [f"CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) AS t"]
        + [f"({c}) AS s{i + 1}" for i, c in enumerate(conds)]
    )
    evs = f"array_sort(collect_list(struct({fields})))"
    if not modes:
        # Bare windowFunnel(W) runs ClickHouse's EXACT re-anchoring
        # DP (r6): per depth keep the LATEST chain-anchor timestamp
        # among chains reaching it — a step-d event propagates the
        # depth-(d-1) anchor when it lands within W of it, a step-1
        # event refreshes the anchor. Later anchors dominate (they
        # satisfy every window a smaller one does), so one slot per
        # depth is exact; slots only grow, so depth = filled-prefix
        # size. Same engine as operators/windows.py:funnel_exact,
        # validated against a brute-force subsequence matcher on
        # ~97k exhaustive cases. Mode strings take the full
        # event-loop simulation below instead (r7).
        K = len(conds)
        init = "array(" + ", ".join(["CAST(NULL AS DOUBLE)"] * K) + ")"
        slots = []
        for d in range(1, K + 1):
            if d == 1:
                cand = "CASE WHEN __ch_e.s1 THEN __ch_e.t END"
            else:
                cand = (
                    f"CASE WHEN __ch_e.s{d} AND __ch_a[{d - 2}] IS NOT NULL"
                    f" AND __ch_e.t - __ch_a[{d - 2}] <= ({w})"
                    f" THEN __ch_a[{d - 2}] END"
                )
            slots.append(f"greatest(__ch_a[{d - 1}], {cand})")
        expr = (
            f"size(filter(aggregate({evs}, {init},"
            f" (__ch_a, __ch_e) -> array({', '.join(slots)})),"
            f" __ch_x -> __ch_x IS NOT NULL))"
        )
        return expr, tail[1] + 1
    # Mode strings run ClickHouse's EXACT event loop (r7) — the
    # shared fold in operators/windows.py:funnel_ch_fold_sql, a
    # direct transliteration of the published windowFunnel algorithm
    # (per-level (anchor, last) slots, level-1 refresh preceding the
    # dedup/order checks, early termination on dedup repeat /
    # order violation / full depth, strict_increase on the previous
    # level's LAST event time). Validated against a pure-Python
    # model of the same loop on a ~98k-case exhaustive grid
    # (tests/test_property.py). Equal-timestamp ties keep the
    # funnel family's pinned (t asc, cond DESC) order; ClickHouse's
    # own tie order is merge-order nondeterministic.
    from .operators.windows import funnel_ch_fold_sql

    expr = funnel_ch_fold_sql(ts, conds, w, modes)
    return expr, tail[1] + 1




_FUNNEL_RULES = _rules(
    ("retention", _retention),
    ("sequenceMatch", _sequence_match),
    ("sequenceCount", _sequence_count),
    ("windowFunnel", _window_funnel),
)


def _rewrite_funnel_aggs(sql: str) -> str:
    """ClickHouse event-analytics aggregates → Spark compositions:

    - ``retention(c1, ..., cn)`` → ``array(r1, r1*r2, ...)`` where
      ``ri = max(if(ci, 1, 0))`` — exactly ClickHouse's semantics
      (``r[i] = cond1 ever held AND cond_i ever held``, independent
      rows).
    - ``windowFunnel(W)(ts, c1, ..., cn)`` → a single ``aggregate()``
      fold over the group's time-sorted events running ClickHouse's
      EXACT re-anchoring DP (latest chain anchor per depth). Mode
      strings ('strict_order', 'strict_deduplication',
      'strict_increase', any combination) run the exact ClickHouse
      event loop via operators/windows.py:funnel_ch_fold_sql —
      validated against a pure-Python transliteration on a ~98k-case
      exhaustive grid. Pure JVM, one shuffle, linear in the group's
      event count.
    """
    return _rewrite_calls(sql, _FUNNEL_RULES)


# rank/contingency/iterative aggregates no string rewrite can express —
# the DataFrame operator is the supported path; translate raises with
# the pointer rather than letting Spark's unresolved-routine error hide it
_OPERATOR_ONLY_AGGS = {
    "mannWhitneyUTest": "operators/stats.py:mann_whitney_u",
    "rankCorr": "operators/stats.py:rank_corr",
    "cramersVBiasCorrected": "operators/stats.py:contingency_coefficients",
    "cramersV": "operators/stats.py:cramers_v",
    "theilsU": "operators/stats.py:theils_u",
    "contingency": "operators/stats.py:contingency_coefficients",
    "meanZTest": "the proportionsZTest scalar or operators/stats.py",
    "categoricalInformationValue":
        "weight-of-evidence sums over operators/stats.py:contingency_coefficients cells",
    "histogram": "the q138 equal-width histogram pattern",
    "isDecimalOverflow": "countDigits against the target precision"
                         " (Spark decimals saturate at 38 digits;"
                         " there is no runtime overflow flag)",
    "aggThrow": "nothing — a ClickHouse fault-injection testing"
                " aggregate with no analytics semantics",
    "analysisOfVariance": "operators/stats.py:welch_ttest for two"
                          " groups (the F-distribution CDF the ANOVA"
                          " p-value needs has no codegen spelling)",
    "anovaTest": "operators/stats.py:welch_ttest for two groups",
    "quantileState": "streaming/matview.py MatView quantiles (the"
                     " DDSketch histogram-map state quantileMerge"
                     " reads) or quantile(p) directly — the two-level"
                     " bucket shuffle the sketch build needs has no"
                     " single-aggregate SQL spelling",
    "sequenceNextNode": "the q_chagg.py sequence_next_node pattern"
                        " (groupArray-sorted event chains + array"
                        " search — CH's base/direction matrix is a"
                        " 4-way operator, not one aggregate)",
    "initializeAggregation": "the -State aggregate spellings over a"
                             " single-row group (uniqState/sumState/"
                             "avgState... translate directly)",
    "finalizeAggregation": "the -Merge aggregate spellings (the state"
                           " kind is not visible at translate time;"
                           " uniqMerge/avgMerge/sumMerge read every"
                           " state this engine writes)",
    "flattenTuple": "explicit struct field references (struct field"
                    " names are schema, not values, in Spark SQL)",
    # (hop/hopStart/hopEnd translate since r8: Spark's sliding
    # window() multi-assigns in a batch GROUP BY — see _rewrite_tumble)
    "geohashesInBox": "geohashEncode over an explicit lat/lon grid"
                      " (box coverage enumeration has no SQL"
                      " spelling here)",
    # r8 batch 53 tail (area/perimeter Cartesian implemented in r9 —
    # see the geometry block in functions/clickhouse.py)
    "polygonArea": "polygonAreaCartesian (implemented: shoelace over"
                   " the ARRAY<ARRAY<STRUCT<x,y>>> polygon model)",
    "randConstant": "rand() (per-row) or a literal seed — Spark has"
                    " no per-block constant random",
    "sparseGrams": "ngrams(s, n) / arrayShingles (the sparse-gram"
                   " hash-pivot selection is CH-internal)",
    # width-of-the-integer-TYPE operations (same stance as byteSwap):
    # the type is invisible to a textual translation
    "reverseBits": "a sequence(0, 63) bit fold at an explicit width —"
                   " CH's reversal width comes from the integer TYPE,"
                   " unknowable post-translation",
    "defaultValueOfArgumentType": "defaultValueOfTypeName with the"
                                  " type spelled explicitly",
    "arrayEnumerateRanked": "arrayEnumerateUniq applied per nesting"
                            " level",
    "estimateCompressionRatio": "nothing — storage-codec"
                                " introspection has no Spark meaning",
    "dynamicType": "toTypeName (Dynamic columns do not exist here;"
                   " schemas are static)",
    "variantType": "toTypeName (Variant columns do not exist here)",
    # sketch-state writers with no mergeable Spark twin
    "topKState": "topK(k)(x) directly (the heavy-hitters sketch has"
                 " no mergeable Spark representation)",
    # r8 probe batch 47
    # (JSONAllPaths / JSONAllPathsWithTypes / JSONDynamicPaths /
    # JSONSharedDataPaths translate since r9 — depth-3 leaf-path
    # enumeration in functions/clickhouse.py; deeper objects report
    # their depth-3 prefix, documented there)
    "flameGraph": "system.query_log-style introspection is out of"
                  " scope — use Spark UI / event logs",
    "histogramState": "the q138 equal-width histogram pattern",
    # H3/S2 cell indexing needs the vendor libraries; geohash/morton
    # are the supported spatial keys
    "geoToH3": "geohashEncode or mortonEncode (H3 needs the h3 lib)",
    # the Yandex geobase hierarchy (probe batch 55): needs the
    # regions_hierarchy files CH loads from disk — a dictionary join
    # over your own region table is the engine's equivalent
    "regionToCity": "operators/dictionary.py:dict_get over a region"
                    " table (the Yandex geobase files are not here)",
    "regionToArea": "dict_get over a region table",
    "regionToDistrict": "dict_get over a region table",
    "regionToCountry": "dict_get over a region table",
    "regionToContinent": "dict_get over a region table",
    "regionToTopContinent": "dict_get over a region table",
    "regionToPopulation": "dict_get over a region table",
    "regionToName": "dict_get over a region table",
    "regionIn": "a semi-join against your region hierarchy table",
    "regionHierarchy": "dict_get iterated over a region table",
    "h3ToGeo": "geohashDecode or mortonDecode",
    "h3ToGeoBoundary": "geohashDecode cell corners",
    "geoToS2": "geohashEncode or mortonEncode (S2 needs the s2 lib)",
    "s2ToGeo": "geohashDecode or mortonDecode",
    # Cartesian polygon algebra + WKT I/O are implemented (r9,
    # functions/clickhouse.py geometry block: shoelace area, ring
    # perimeters, readWKT* parsers, wkt render). The SPHERICAL kernel
    # and polygon set operations (intersection/union emit new vertex
    # sets) genuinely need a geometry library — refused toward the
    # Cartesian forms.
    "polygonAreaSpherical": "polygonAreaCartesian (the spherical"
                            " kernel needs a geometry library)",
    "polygonPerimeterSpherical": "polygonPerimeterCartesian",
    "polygonsIntersectionCartesian": "pointInPolygon membership tests"
                                     " (clipping emits new vertices —"
                                     " needs a geometry kernel)",
    "polygonsIntersectionSpherical": "pointInPolygon",
    "polygonsUnionCartesian": "pointInPolygon",
    "polygonsUnionSpherical": "pointInPolygon",
    "svg": "wkt (or concat() over explicit coordinates)",
    # (the 25.x PromQL-style grid family — timeSeriesRateToGrid /
    # DeltaToGrid / InstantRateToGrid / InstantDeltaToGrid /
    # ResampleToGridWithStaleness — translates since r9 via the
    # parametric rewrite: PromQL extrapolation + counter resets as a
    # pure-SQL fold; see _ts_grid_value)
    "evalMLMethod": "Spark MLlib model scoring outside SQL",
    "catboostEvaluate": "Spark MLlib model scoring outside SQL",
    "globalVariable": "spark.conf.get outside SQL (like getSetting)",
    "transactionID": "nothing — this engine has no interactive"
                     " transactions (writes are atomic per batch)",
    "transactionLatestSnapshot": "nothing — no interactive"
                                 " transactions",
    "icebergTruncate": "substring(s, 1, w) for strings or"
                       " x - pmod(x, w) for integers (the transform"
                       " is type-dispatched in Iceberg, which a"
                       " textual translation cannot see)",
    "arrayLevenshteinDistanceWeighted": "arrayLevenshteinDistance"
                                        " (uniform costs)",
    # type-polymorphic -OrDefault forms: the return type's default
    # ('' / 0 / epoch) is not visible to a textual translation
    "minOrDefault": "coalesce(min(x), <your column's default value>)",
    "maxOrDefault": "coalesce(max(x), <your column's default value>)",
    "anyOrDefault": "coalesce(any_value(x), <default>)",
    "anyLastOrDefault": "coalesce(last(x), <default>)",
    # block introspection: no deterministic block structure exists in
    # a distributed plan (same stance as runningDifference/neighbor)
    "blockSize": "count() OVER () for group sizes",
    "blockNumber": "row_number() OVER (ORDER BY ...) derived keys",
    "rowNumberInBlock": "row_number() OVER (ORDER BY ...)",
    "rowNumberInAllBlocks": "row_number() OVER (ORDER BY ...) (a"
                            " stable global ordinal needs an explicit"
                            " order)",
    "getSizeOfEnumType": "nothing — Enum column types do not exist"
                         " here (strings are dictionary-encoded by"
                         " parquet)",
    "getMacro": "spark.conf.get outside SQL (config macros have no"
                " SQL-readable store)",
    "dumpColumnStructure": "toTypeName (in-memory column layout is"
                           " CH-internal)",
    "transactionOldestSnapshot": "nothing — no interactive"
                                 " transactions",
    "partitionID": "the engine's date partition column directly"
                   " (ddl.append_rows writes event_date= directories)",
    "partitionId": "the engine's date partition column directly",
    "structureToCapnProtoSchema": "nothing — schema-codegen helpers"
                                  " for CH wire formats",
    "structureToProtobufSchema": "sources/protodesc.py (the engine's"
                                 " protobuf descriptors)",
    "formatQuery": "normalizeQuery (pretty-printing needs the full CH"
                   " grammar, which this translator deliberately"
                   " does not model)",
    "formatQuerySingleLine": "normalizeQuery",
    "exponentialMovingAverage":
        "operators/windows.py:exponential_moving_average",
    "largestTriangleThreeBuckets": "operators/windows.py:lttb_downsample",
    "stochasticLinearRegression": "simpleLinearRegression",
    "stochasticLogisticRegression": "Spark MLlib's LogisticRegression",
    "groupBitmapAndState": "groupBitmapAnd (cardinality) or the"
                           " bucketed array composition in"
                           " suite/q_dialect.py:q248 — raw roaring"
                           " state bytes have no Spark twin",
    "groupBitmapOrState": "groupBitmapOr or the q248 bucketed"
                          " composition",
    "groupBitmapXorState": "groupBitmapXor or the q248 bucketed"
                           " composition",
    # batch-31 tails: dictionary reads are DataFrame joins here, and
    # the shingle-hash fingerprints live in the dedup operators
    "dictGet": "operators/dictionary.py:dict_get (dictionaries are"
               " registered DataFrames; the read is a broadcast join)",
    "dictGetOrDefault": "operators/dictionary.py:dict_get with a"
                        " coalesce over the default",
    "dictHas": "operators/dictionary.py:dict_has",
    "dictGetHierarchy": "operators/dictionary.py:dict_get iterated"
                        " (hierarchies need a recursive join)",
    "joinGet": "a broadcast left join (Join-engine tables are plain"
               " DataFrames here)",
    "wordShingleMinHash": "operators/dedup.py minhash_signatures",
    "wordShingleSimHash": "operators/dedup.py:simhash",
    "ngramSimHash": "operators/dedup.py:simhash",
    "ngramMinHash": "operators/dedup.py minhash_signatures",
    "wordShingleSimHashCaseInsensitive": "operators/dedup.py:simhash"
                                         " over lower(text)",
    "wordShingleSimHashUTF8": "operators/dedup.py:simhash",
    "ngramSimHashCaseInsensitive": "operators/dedup.py:simhash over"
                                   " lower(text)",
    "ngramSimHashUTF8": "operators/dedup.py:simhash",
    "ngramMinHashCaseInsensitive": "operators/dedup.py"
                                   " minhash_signatures over"
                                   " lower(text)",
    "wordShingleMinHashCaseInsensitive": "operators/dedup.py"
                                         " minhash_signatures over"
                                         " lower(text)",
    # LowCardinality is a STORAGE encoding: parquet dictionary-encodes
    # strings already, so the key/index split has no reader meaning
    "lowCardinalityKeys": "the column itself (parquet dictionary"
                          " encoding is transparent here)",
    "lowCardinalityIndices": "dense_rank() or a dictionary join if an"
                             " integer code is wanted",
    "mapPartialSort": "mapSort (comparator-parameterized partial sort"
                      " has no Spark spelling)",
    "mapReverseSort": "mapSort + reversed readback",
    # SHA-512/256 (the truncated variant) and MD4 have no JVM digest
    "SHA512_256": "SHA256 (sha2 has no 512/256 truncated mode)",
    "MD4": "MD5 (MD4 is disabled in modern crypto providers)",
    "runningConcurrency": "the interval sweep shape"
                          " (operators/windows.py:interval_length_sum"
                          " over a window) — block order is undefined"
                          " in a distributed scan",
    "getSetting": "spark.conf.get outside SQL (CH settings have no"
                  " SQL-readable store in this engine)",
    "multiFuzzyMatchAny": "multiMatchAny (constant edit-distance fuzzy"
                          " regex sets need hyperscan)",
    "arrayEnumerateUniqRanked": "arrayEnumerateUniq applied per"
                                " nesting level",
    # batch-30 tails that genuinely need models/DSP or CH internals
    "kolmogorovSmirnovTest": "operators/stats.py:kolmogorov_smirnov",
    "decodeHTMLComponent": "decodeXMLComponent (the five XML entities"
                           " + numeric forms; the full HTML5 entity"
                           " table has no SQL spelling)",
    "seriesDecomposeSTL": "precomputing the decomposition offline"
                          " (STL's loess loops have no codegen"
                          " spelling)",
    "seriesPeriodDetectFFT": "autocorrelation via arrayDifference/"
                             "arrayRotateLeft compositions (no FFT"
                             " codegen spelling)",
    "stem": "operators/text.py language heuristics (stemming needs"
            " per-language dictionaries)",
    "lemmatize": "operators/text.py language heuristics (lemma"
                 " dictionaries are CH extension data)",
    "minSampleSizeConversion": "the closed-form A/B calculator outside"
                               " SQL (the probit quantile has no"
                               " codegen spelling)",
    "minSampleSizeContinous": "the closed-form A/B calculator outside"
                              " SQL",
    "minSampleSizeContinuous": "the closed-form A/B calculator outside"
                               " SQL",
    "hasColumnInTable": "spark.catalog.listColumns outside SQL"
                        " (catalog introspection is not an expression"
                        " here)",
    "isNullable": "df.schema / DESCRIBE TABLE outside SQL (type-level"
                  " nullability is not an expression here — Spark"
                  " columns are nullable unless the schema says"
                  " otherwise)",
    "synonyms": "a dictionary join (synonym sets are extension data)",
    "detectCharset": "detectLanguage (charset models are CH extension"
                     " data)",
    "toIntervalNanosecond": "toIntervalMicrosecond (Spark intervals"
                            " are microsecond-resolution)",
    "isConstant": "nothing — constant-folding introspection has no"
                  " Spark meaning (Catalyst folds before execution)",
    "sequenceMatchEvents":
        "operators/windows.py:sequence_match_times (which chain's"
        " timestamps ClickHouse's backtracking surfaces is"
        " implementation-defined; the operator returns the exact"
        " earliest chain per step)",
    "sqidEncode": "conv()/base64 for id obfuscation (sqids shuffling"
                  " has no codegen spelling)",
    "sqidDecode": "conv()/base64",
    # batch-68: the Nested-type constructor exists only for CH's
    # Nested storage layout; Spark's equivalent is explicit
    "nested": "arrays_zip + named_struct (Nested is a CH storage"
              " layout, not a reader-side value)",
    "arrayNormalizedGini": "operators/stats.py:auc (rank-based Gini"
                           " needs the distributed midrank machinery)",
    "byteSize": "length/octet_length (in-memory layout size has no"
                " Spark equivalent)",
    "byteSwap": "reverse over unhex(hex(x)) at a fixed width — CH's"
                " swap width comes from the integer TYPE, which a"
                " textual translation cannot see",
    "hilbertEncode": "mortonEncode (Z-order, the curve zorder.py"
                     " clusters by) — CH's Hilbert rotation convention"
                     " has no verifiable vectors in this environment",
    "hilbertDecode": "mortonDecode(2, code)",
    "tupleToNameValuePairs": "map()/map_entries over explicit fields"
                             " (struct field names are not values in"
                             " Spark SQL)",
    # block-order functions: no deterministic block order exists in a
    # distributed plan — the window spelling is the supported path
    "runningAccumulate": "a sum(x) OVER (ORDER BY ...) window",
    "runningDifference":
        "x - lag(x) OVER (ORDER BY ...) or"
        " operators/windows.py:running_difference",
    "runningDifferenceStartingWithFirstValue":
        "x - lag(x, 1, first_value-shaped default) OVER (ORDER BY ...)"
        " — block order is undefined in a distributed scan (batch-68)",
    "neighbor": "lead(x, n)/lag(x, n) OVER (ORDER BY ...) windows",
}

# ClickHouse aggregate spellings with a same-shape Spark builtin.
# Case-sensitive on purpose (CH function names are case-sensitive), and
# longest-first so uniqCombined64 wins over uniqCombined over uniq.
_AGG_NAME_MAP = {
    # -Merge combinators: reading an AggregatingMergeTree-role state
    # table (matview/projection partials). sum/min/max states merge with
    # the base aggregate; count states are partial counts, so they SUM.
    # (uniqMerge needs an expression wrap — handled separately.)
    "sumMerge": "sum",
    "countMerge": "sum",
    "minMerge": "min",
    "maxMerge": "max",
    "anyLastMerge": "last",
    "anyMerge": "any_value",
    # -State combinators: WRITING AggregatingMergeTree-role partials
    # from ad-hoc SQL (the matview/projection layer writes the same
    # shapes from DataFrame code). Simple-value states ARE the partial
    # aggregate the -Merge spellings above read back; uniq states are
    # the mergeable HLL sketches uniqMerge unions+estimates
    # (hll_sketch_agg, matching streaming/matview.py storage).
    # avgState/avgMergeState write the (s, c) struct avgMerge reads —
    # splice-handled below, not a rename.
    "uniqState": "hll_sketch_agg",
    "uniqMergeState": "hll_union_agg",
    "uniqExactState": "collect_set",
    # the uniq VARIANT spellings (Combined/HLL12/Theta) all write the
    # same mergeable HLL sketch family here (their -Merge reads are
    # wrapped above); accuracy class matches the plain uniq mapping
    "uniqCombined64State": "hll_sketch_agg",
    "uniqCombinedState": "hll_sketch_agg",
    "uniqHLL12State": "hll_sketch_agg",
    "uniqThetaState": "hll_sketch_agg",
    "uniqCombined64MergeState": "hll_union_agg",
    "uniqCombinedMergeState": "hll_union_agg",
    "uniqHLL12MergeState": "hll_union_agg",
    "uniqThetaMergeState": "hll_union_agg",
    # groupArray states ARE the collected arrays (their -Merge
    # concatenation forms are spliced below)
    "groupArrayState": "collect_list",
    "groupUniqArrayState": "collect_set",
    "sumState": "sum",
    "countState": "count",
    "minState": "min",
    "maxState": "max",
    "anyLastState": "last",
    "anyState": "any_value",
    "sumMergeState": "sum",
    "countMergeState": "sum",
    "minMergeState": "min",
    "maxMergeState": "max",
    "anyLastMergeState": "last",
    "anyMergeState": "any_value",
    # -SimpleState == the plain aggregated value (CH
    # SimpleAggregateFunction columns store the value itself, so the
    # base aggregate is the exact state)
    "sumSimpleState": "sum",
    "minSimpleState": "min",
    "maxSimpleState": "max",
    "anyLastSimpleState": "last",
    "anySimpleState": "any_value",
    "groupBitAndSimpleState": "bit_and",
    "groupBitOrSimpleState": "bit_or",
    "groupBitXorSimpleState": "bit_xor",
    "uniqCombined64": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    "uniqTheta": "approx_count_distinct",
    "uniq": "approx_count_distinct",
    "countIf": "count_if",
    "argMax": "max_by",
    "argMin": "min_by",
    "groupUniqArray": "collect_set",
    "groupArray": "collect_list",
    "anyLast": "last",
    # combinator-path fallback; bare anyHeavy rewrites earlier to
    # mode(x, true) — see the NULL-skip loop (verdict r10)
    "anyHeavy": "mode",
    "any": "any_value",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # numerically-stable variants: Spark's builtins already use stable
    # (Welford-style) merge formulas
    "stddevPopStable": "stddev_pop",
    "stddevSampStable": "stddev_samp",
    "varPopStable": "var_pop",
    "varSampStable": "var_samp",
    "corrStable": "corr",
    "covarPopStable": "covar_pop",
    "covarSampStable": "covar_samp",
    # Spark sums in the declared 64-bit type with the same wraparound
    "sumWithOverflow": "sum",
    # Spark's skewness IS the population skewness (kurtPop needs the
    # +3 excess shift — splice-handled; the Samp variants too)
    "skewPop": "skewness",
}
# conditional-aggregate (-If) combinator bases: <name>If(args..., cond)
# aggregates only rows where cond holds. Every Spark aggregate ignores
# NULL inputs, so wrapping each argument in if(cond, arg, NULL) is the
# faithful rewrite for every base. Longest names first (anyLast > any,
# groupUniqArray > groupArray).
_AGG_IF_BASES = {
    "groupUniqArray": "collect_set",
    "groupArray": "collect_list",
    "argMax": "max_by",
    "argMin": "min_by",
    # the any family skips NULLs in CH — the If wrap introduces NULLs
    # for non-matching rows, so the ignoreNulls flag is load-bearing
    # (batch-72)
    "anyLast": "last({}, true)",
    "any": "any_value({}, true)",
    "uniq": "approx_count_distinct",
    "sum": "sum",
    "avg": "avg",
    "min": "min",
    "max": "max",
    # {} bases are templates (the DISTINCT keyword can't follow a paren)
    "sumDistinct": "sum(DISTINCT {})",
    "avgDistinct": "avg(DISTINCT {})",
}

# The -If combinator composes with EVERY aggregate spelling (Spark
# aggregates skip NULL inputs, so wrapping each argument in
# if(cond, arg, NULL) is always the faithful rewrite). Derive the full
# base set instead of hand-listing:
#   * every renamed CH aggregate (_AGG_NAME_MAP) -> its Spark builtin;
#   * same-name builtins CH also spells lowercase (corr, covar_*);
#   * splice-composed aggregates (deltaSum, entropy, avgWeighted,
#     moment corrections, sum/min/maxMap handled in their own block)
#     keep their CH name — the If loop wraps the arguments and the
#     later splice pass expands the base call;
#   * the explicit _AGG_IF_BASES templates win on conflicts.
_AGG_IF_ALL = {
    **_AGG_NAME_MAP,
    # deterministic heavy-hitter (verdict r10; the true is mode's
    # deterministic flag — any/anyLast live in _AGG_IF_BASES)
    "anyHeavy": "mode({}, true)",
    "corr": "corr",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "deltaSum": "deltaSum",
    "deltaSumTimestamp": "deltaSumTimestamp",
    "entropy": "entropy",
    "avgWeighted": "avgWeighted",
    "kurtPop": "kurtPop",
    "kurtSamp": "kurtSamp",
    "skewSamp": "skewSamp",
    "boundingRatio": "boundingRatio",
    "sumCount": "sumCount",
    "sumKahan": "sum",  # scalar-rename table entry, restated for -If
    # -OrNull lives in the scalar-rename table (Spark aggregates are
    # already NULL-over-empty); restated here so -OrNullIf stacks
    "sumOrNull": "sum",
    "avgOrNull": "avg",
    "minOrNull": "min",
    "maxOrNull": "max",
    "anyOrNull": "any_value",
    "argMaxOrNull": "max_by",
    "argMinOrNull": "min_by",
    # -If-OrNull stacking (probe batch 66): the conditional aggregate
    # already returns NULL when nothing matches, so OrNull strips
    "sumIfOrNull": "sumIf",
    "avgIfOrNull": "avgIf",
    "minIfOrNull": "minIf",
    "maxIfOrNull": "maxIf",
    "anyIfOrNull": "anyIf",
    # -Array-OrNull: same argument over the flattened element stream
    "sumArrayOrNull": "sumArray",
    "avgArrayOrNull": "avgArray",
    "minArrayOrNull": "minArray",
    "maxArrayOrNull": "maxArray",
    # splice-handled state writer: the If loop wraps the argument and
    # the avgState splice below then sees avgState(if(cond, x, NULL))
    "avgState": "avgState",
    # splice-handled -OrDefault forms (numeric type defaults) and the
    # -ArgMin/-ArgMax combinators: keep the CH name through the If
    # wrap; their own splices run after
    "sumOrDefault": "sumOrDefault",
    "avgOrDefault": "avgOrDefault",
    "countOrDefault": "countOrDefault",
    "uniqExactOrDefault": "uniqExactOrDefault",
    "uniqOrDefault": "uniqOrDefault",
    **_AGG_IF_BASES,
}


def _q_interp(pv: str, exclusive: bool) -> str:
    """Linear interpolation between sorted[floor(h)] and
    sorted[floor(h) + 1] of the sorted array ``__ch_qa``: the inclusive
    percentile (h = 1 + q*(n-1)), or Excel PERCENTILE.EXC (h = q*(n+1),
    end-clamped) for CH's ExactExclusive."""
    if exclusive:
        h = (
            "least(greatest(CAST((" + pv + ") AS DOUBLE)"
            " * (size(__ch_qa) + 1), CAST(1 AS DOUBLE)),"
            " CAST(size(__ch_qa) AS DOUBLE))"
        )
    else:
        h = f"(1 + CAST(({pv}) AS DOUBLE) * (size(__ch_qa) - 1))"
    lo = "try_element_at(__ch_qa, CAST(floor(__ch_h) AS INT))"
    hi = (
        "coalesce(try_element_at(__ch_qa,"
        " CAST(floor(__ch_h) AS INT) + 1), " + lo + ")"
    )
    return (
        f"element_at(transform(array({h}), __ch_h ->"
        f" {lo} + (__ch_h - floor(__ch_h)) * ({hi} - {lo})),"
        " 1)"
    )


def _q_order_stat(pv: str, variant: str) -> str:
    """CH's ExactLow/High ORDER STATISTICS over the sorted array
    ``__ch_qa``: Low takes sorted[floor(q * (n-1))], High
    sorted[ceil(q * (n-1))] (type-preserving, NULL over the empty
    group)."""
    rnd = "floor" if variant == "ExactLow" else "ceil"
    return (
        "try_element_at(__ch_qa, greatest(1,"
        f" CAST({rnd}(({pv}) * (size(__ch_qa) - 1)) AS INT)"
        " + 1))"
    )


def _q_levels(ps: list[str], plural: bool, sel) -> str:
    if plural:
        return f"transform(array({', '.join(ps)}), __ch_qp -> {sel('__ch_qp')})"
    return sel(ps[0])


def _quantile_array(sql, m, close, args):
    # parametric -Array stackings of quantile/topK (batch-78): the
    # element stream is the flatten of the group's arrays, so each
    # variant routes through the SAME per-variant selector the scalar
    # rule uses (ADVICE r10: the old catch-all folded every variant
    # into the inclusive interpolation): ExactLow/High are order
    # statistics over the sorted flat array, ExactExclusive is Excel
    # PERCENTILE.EXC, everything else (plain/Exact/TDigest/Timing/...)
    # is the inclusive interpolation.
    plural = m.group(1) == "quantiles"
    variant = m.group(2)
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            f"{m.group(0).split('(')[0].strip()} expects the"
            " parametric form quantile...Array(p...)(arr)"
        )
    ps = args
    arr_args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(arr_args) != 1:
        # ADVICE r10: quantileExactWeightedArray(0.5)(arr, w) and
        # friends used to swallow both args into one CAST and die
        # with an opaque AnalysisException — refuse loudly instead
        raise ValueError(
            f"quantile{'s' if plural else ''}{variant}Array takes"
            " exactly ONE array argument — the weighted/"
            "deterministic multi-array forms (arr, w) have no SQL"
            " rewrite; explode the arrays and use the scalar"
            f" quantile{variant}(p)(x, w) instead"
        )
    arr_arg = arr_args[0]
    if variant in ("GK", "DD"):
        # the leading accuracy knob has no role in the exact
        # sorted-array stand-in — drop it, keep the levels (same
        # contract as the scalar rule)
        if len(ps) < 2:
            raise ValueError(
                f"quantile{variant}Array expects"
                f" quantile{variant}Array(accuracy, level...)(arr)"
            )
        ps = ps[1:]
    if variant in ("ExactLow", "ExactHigh"):
        body = _q_levels(ps, plural, lambda pv: _q_order_stat(pv, variant))
        coll = f"flatten(collect_list({arr_arg}))"
    else:
        excl = variant == "ExactExclusive"
        body = _q_levels(ps, plural, lambda pv: _q_interp(pv, excl))
        coll = f"flatten(collect_list(CAST(({arr_arg}) AS ARRAY<DOUBLE>)))"
    return (
        f"element_at(transform(array(array_sort({coll})),"
        f" __ch_qa -> {body}), 1)"
    ), tail[1] + 1


def _top_k_array(sql, m, close, args):
    # topK is a frequency fold with a value tiebreak
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError("topKArray expects topKArray(k)(arr)")
    k = args[0].strip()
    arr_arg = sql[tail[0] + 1: tail[1]]
    return (
        "element_at(transform(array(flatten(collect_list("
        f"({arr_arg})))), __ch_fa -> slice(transform(array_sort("
        "transform(array_distinct(__ch_fa), __ch_v -> struct("
        "-size(filter(__ch_fa, __ch_e -> __ch_e <=> __ch_v))"
        " AS negn, __ch_v AS v))), __ch_s -> __ch_s.v),"
        f" 1, CAST(({k}) AS INT))), 1)"
    ), tail[1] + 1


_Q_WEIGHTED = (
    "ExactWeighted", "ExactWeightedInterpolated",
    "InterpolatedWeighted", "TDigestWeighted",
    "TimingWeighted", "BFloat16Weighted",
)


def _quantile(sql, m, close, args):
    # parametric quantiles: their names share prefixes with nothing.
    # The optional -If combinator composes: quantileIf(p)(x, cond).
    plural = m.group(1) == "quantiles"
    variant = m.group(2)
    exact = variant.startswith("Exact") or variant == "InterpolatedWeighted"
    # weighted approximate variants (Timing/BFloat16/TDigest
    # Weighted) map to Spark's exact weighted percentile — a more
    # precise stand-in for CH's approximation
    weighted = variant in _Q_WEIGHTED
    has_if = bool(m.group(3))
    fn = "percentile" if exact else "approx_percentile"
    tail = _trailing_paren(sql, close)
    if tail is None:
        # bare quantile(x) / quantileIf(x, cond): CH semantics = median
        if has_if:
            if len(args) != 2:
                raise ValueError("quantileIf expects (expr, cond)")
            x = f"if({args[1]}, {args[0]}, NULL)"
        else:
            x = sql[m.end(): close]
        if variant in ("ExactLow", "ExactHigh"):
            # bare form = the lower/upper median order statistic
            rnd = "floor" if variant == "ExactLow" else "ceil"
            return (
                "element_at(transform(array(array_sort("
                f"collect_list({x}))), __ch_qa ->"
                " try_element_at(__ch_qa, greatest(1,"
                f" CAST({rnd}(0.5 * (size(__ch_qa) - 1)) AS INT)"
                " + 1))), 1)"
            )
        return f"{fn}({x}, 0.5)"
    ps = args
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if variant == "GK":
        # quantileGK(accuracy, level)(x): accuracy leads the
        # parameter list and maps to approx_percentile's third
        if len(ps) < 2:
            raise ValueError("quantileGK expects quantileGK(accuracy, level)(x)")
        acc, ps = ps[0], ps[1:]
    if variant == "DD":
        # quantileDD(relative_accuracy, levels...)(x): the DDSketch
        # accuracy knob has no approx_percentile analogue — drop it,
        # keep the levels
        if len(ps) < 2:
            raise ValueError(
                "quantileDD expects"
                " quantileDD(relative_accuracy, level...)(x)"
            )
        ps = ps[1:]
    if variant == "Deterministic" and not has_if and len(args) == 2:
        args = args[:1]  # the determinism seed has no Spark role
    if has_if:
        need = 3 if weighted else 2
        if len(args) != need:
            raise ValueError("quantile...If expects (expr[, w], cond)")
        cond = args[-1]
        x = f"if({cond}, {args[0]}, NULL)"
        if weighted:
            args = [args[0], f"if({cond}, {args[1]}, 0)", cond]
    else:
        x = args[0] if (weighted or variant == "Deterministic") \
            else sql[tail[0] + 1: tail[1]]
    p_expr = f"array({', '.join(ps)})" if plural else ps[0]
    if weighted:
        if len(args) < 2:
            raise ValueError(f"quantile{variant} expects (expr, weight) arguments")
        call = f"percentile({x}, {p_expr}, CAST({args[1]} AS BIGINT))"
    elif variant == "GK":
        call = f"approx_percentile({x}, {p_expr}, {acc})"
    elif variant == "ExactExclusive":
        # CH's ExactExclusive is Excel PERCENTILE.EXC (batch-77; it
        # previously fell through to Spark's INCLUSIVE percentile —
        # 3.25 where CH says 2.75 for q=0.25 over 1..10).
        # ExactInclusive == PERCENTILE.INC == Spark percentile, which
        # the fall-through below already is.
        body = _q_levels(ps, plural, lambda pv: _q_interp(pv, True))
        call = (
            "element_at(transform(array(array_sort("
            f"collect_list(CAST(({x}) AS DOUBLE)))),"
            f" __ch_qa -> {body}), 1)"
        )
    elif variant in ("ExactLow", "ExactHigh"):
        # for an even count at q=0.5 the order statistics are the
        # lower/upper median, which is CH-exact (batch-72; both
        # previously fell through to the interpolated form, returning
        # 5.5 where CH says 5/6). At non-median levels this is the
        # (n-1)-scaled convention — CH's own selector is
        # level-dependent in ways only testable against a live server
        # (documented convention deviation).
        body = _q_levels(ps, plural, lambda pv: _q_order_stat(pv, variant))
        call = (
            "element_at(transform(array(array_sort("
            f"collect_list({x}))), __ch_qa -> {body}), 1)"
        )
    else:
        call = f"{fn}({x}, {p_expr})"
    return call, tail[1] + 1


def _group_array_if_params(sql, m, close, args):
    # parametric groupArray*If(params)(args..., cond): fold the If into
    # the argument BEFORE the parametric rule below consumes the name
    # (collect_list/collect_set skip NULLs); the non-parametric form is
    # left for the -If table
    tail = _trailing_paren(sql, close)
    if tail is None:
        return None
    base = m.group(0).split("(")[0].strip()[: -2]  # drop 'If'
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(args) < 2:
        raise ValueError(f"{base}If expects (args..., cond)")
    cond = args[-1]
    wrapped = ", ".join(f"if({cond}, {a}, NULL)" for a in args[:-1])
    return f"{base}({sql[m.end(): close]})({wrapped})", tail[1] + 1


# parametric size caps: groupArray(n)(x) / groupUniqArray(n)(x) keep at
# most n elements; uniqUpTo(n)(x) = exact count clamped at n+1
_SIZE_CAPS = {
    "groupUniqArray": "slice(collect_set({x}), 1, {k})",
    "groupArraySorted": "slice(array_sort(collect_list({x})), 1, {k})",
    # deterministic pseudo-random sample: md5-keyed sort stands in for
    # CH's RNG so reruns and the DuckDB oracle agree; the optional seed
    # parameter is accepted and ignored (documented determinism
    # deviation)
    "groupArraySample":
        "transform(slice(array_sort(transform(collect_list({x}),"
        " __ch_v -> struct(md5(CAST(__ch_v AS STRING)) AS h,"
        " __ch_v AS v))), 1, {k}), __ch_s -> __ch_s.v)",
    "groupArrayLast":
        "slice(collect_list({x}),"
        " greatest(size(collect_list({x})) - ({k}) + 1, 1), ({k}))",
    "groupArray": "slice(collect_list({x}), 1, {k})",
    "uniqUpTo": "least(count(DISTINCT {x}), ({k}) + 1)",
}


def _size_cap(sql, m, close, args):
    name = m.group(1)
    tail = _trailing_paren(sql, close)
    if tail is None:
        if name in ("uniqUpTo", "groupArrayLast", "groupArraySample"):
            raise ValueError(f"{name} expects {name}(n)(x)")
        return None  # plain groupArray(x): the name map handles it
    k = sql[m.end(): close].strip()
    if name == "groupArraySample":
        k = args[0].strip()  # drop optional seed
    x = sql[tail[0] + 1: tail[1]]
    return _SIZE_CAPS[name].format(x=x, k=k), tail[1] + 1


def _sum_map_filtered(sql, m, close, args):
    # sumMapFiltered(keep)(keys, values): filter the parallel arrays by
    # key membership FIRST, then fall through to the plain sumMap fold
    # (WithOverflow differs only in CH's fixed-width arithmetic —
    # Spark's BIGINT/DOUBLE never overflows here, documented no-op)
    keep = sql[m.end(): close].strip()
    tail = _trailing_paren(sql, close)
    args = _split_top_commas(sql[tail[0] + 1: tail[1]]) if tail else []
    if len(args) != 2:
        raise ValueError(
            "sumMapFiltered expects sumMapFiltered(keys_to_keep)"
            "(keys, values)"
        )
    pairs = (
        f"filter(zip_with({args[0]}, {args[1]},"
        f" (__ch_fk, __ch_fv) -> struct(__ch_fk AS k,"
        f" __ch_fv AS v)), __ch_fp ->"
        f" array_contains({keep}, __ch_fp.k))"
    )
    return (
        f"sumMap(transform({pairs}, __ch_fp -> __ch_fp.k),"
        f" transform({pairs}, __ch_fp -> __ch_fp.v))"
    ), tail[1] + 1


# per-key merge folds: sum / min / max over every key seen in the group
# (minMap/maxMap are sumMap's siblings; the NULL-init fold seeds min/max
# from the first value instead of 0)
_MAP_MERGE = {
    "sumMap": "__ch_s + __ch_e.value",
    "minMap": "IF(__ch_s IS NULL, CAST(__ch_e.value AS DOUBLE),"
              " least(__ch_s, __ch_e.value))",
    "maxMap": "IF(__ch_s IS NULL, CAST(__ch_e.value AS DOUBLE),"
              " greatest(__ch_s, __ch_e.value))",
}


def _map_agg(sql, m, close, args):
    # sumMap: per-key sums across rows. Map argument or the classic
    # (keys, values) two-array form; returns a sorted MAP (ClickHouse
    # returns a (keys, values) tuple for the array form — documented
    # shape deviation, same content). <agg>MappedArrays is ClickHouse's
    # alias for the two-array form — same fold; the -If combinator NULLs
    # the map argument out on non-matching rows (collect_list skips
    # NULLs)
    head = m.group(0).split("(")[0].strip()
    has_if = head.endswith("If")
    # WithOverflow differs only in CH's fixed-width arithmetic;
    # BIGINT/DOUBLE folds never overflow here (documented no-op)
    fname = (
        head.removesuffix("If")
        .removesuffix("WithOverflow")
        .replace("MappedArrays", "Map")
    )
    if has_if:
        if len(args) < 2:
            raise ValueError(f"{head} expects (args..., cond)")
        cond = args[-1]
        args = [f"if({cond}, {a}, NULL)" for a in args[:-1]]
    if len(args) == 1:
        entries = f"flatten(collect_list(map_entries({args[0]})))"
    elif len(args) == 2:
        entries = (
            f"flatten(collect_list(zip_with({args[0]}, {args[1]},"
            f" (__ch_k, __ch_v) ->"
            f" struct(__ch_k AS key, __ch_v AS value))))"
        )
    else:
        raise ValueError(f"{fname} expects (map) or (keys, values)")
    # per-key value expression: sum/min/max are _MAP_MERGE folds; the
    # r7 -Map combinator extensions derive from the same
    # filtered-entries frame (count = entry count, avg = sum/count,
    # uniq = exact distinct values — deterministic, and a per-key
    # array is already materialized here)
    keyed = f"filter({entries}, __ch_e -> __ch_e.key = __ch_k)"
    if fname in _MAP_MERGE:
        init = "CAST(0.0 AS DOUBLE)" if fname == "sumMap" else "CAST(NULL AS DOUBLE)"
        value = (
            f"aggregate({keyed}, {init},"
            f" (__ch_s, __ch_e) -> {_MAP_MERGE[fname]})"
        )
    elif fname == "countMap":
        value = f"size({keyed})"
    elif fname == "avgMap":
        value = (
            f"aggregate({keyed}, CAST(0.0 AS DOUBLE),"
            f" (__ch_s, __ch_e) -> __ch_s + __ch_e.value)"
            f" / size({keyed})"
        )
    elif fname == "anyHeavyMap":
        # per-key deterministic mode (count desc, value asc) — the same
        # contract as the scalar anyHeavy
        vlist = f"transform({keyed}, __ch_e -> __ch_e.value)"
        value = (
            f"element_at(transform(array_sort(transform("
            f"array_distinct({vlist}), __ch_u -> struct("
            f"-size(filter({vlist}, __ch_w -> __ch_w <=> __ch_u))"
            f" AS negc, __ch_u AS val))), __ch_t -> __ch_t.val), 1)"
        )
    else:  # uniqMap
        value = (
            f"size(array_distinct(transform({keyed},"
            f" __ch_e -> __ch_e.value)))"
        )
    # {entries} carries user text inside lambda bodies below, so the
    # lambda vars must be collision-improbable names
    return (
        f"map_from_entries(array_sort(transform("
        f"array_distinct(transform({entries}, __ch_e -> __ch_e.key)),"
        f" __ch_k -> struct(__ch_k AS key,"
        f" {value} AS value))))"
    )


def _approx_top(target, sql, m, close, args):
    # approx_top_* aliases of the topK family — rename only the
    # PARAMETRIC form f(k)(x); the plain 2-arg approx_top_k(x, k) is
    # Spark's own native function and passes through untouched
    if _trailing_paren(sql, close) is None:
        return None
    return target, m.end() - 1


def _top_k(sql, m, close, args):
    # parametric topK(k)(x): EXACT most-frequent-k as a pure-SQL fold
    # over collect_list (CH's SpaceSaving sketch is approximate; exact
    # is strictly better at this per-group shape). Ties break by value
    # asc so the DuckDB oracle can reproduce the pick.
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError("topK expects the parametric form topK(k)(x)")
    k = sql[m.end(): close].strip()
    if m.group(1):  # topKIf(k)(x, cond): collect_list skips NULLs
        ifargs = _split_top_commas(sql[tail[0] + 1: tail[1]])
        if len(ifargs) != 2:
            raise ValueError("topKIf expects topKIf(k)(x, cond)")
        x = f"if({ifargs[1]}, {ifargs[0]}, NULL)"
    else:
        x = sql[tail[0] + 1: tail[1]]
    arr = f"collect_list({x})"
    # {arr} carries user text inside both lambda bodies —
    # collision-improbable lambda vars required
    return (
        f"transform(slice(array_sort(transform(array_distinct({arr}),"
        f" __ch_v -> struct(-size(filter({arr},"
        f" __ch_y -> __ch_y = __ch_v)) AS c, __ch_v AS val))),"
        f" 1, {k}), __ch_s -> __ch_s.val)"
    ), tail[1] + 1


def _top_k_weighted(sql, m, close, args):
    # parametric topKWeighted(k)(x, w): exact weighted fold — per-value
    # weight sums, sort desc, slice k (ties by value asc, oracle-stable)
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            "topKWeighted expects the parametric form"
            " topKWeighted(k)(x, weight)"
        )
    k = sql[m.end(): close].strip()
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(args) != 2:
        raise ValueError("topKWeighted(k)(x, weight) takes two arguments")
    x, w = args[0], args[1]
    arr = f"collect_list(named_struct('val', {x}, 'wt', CAST({w} AS DOUBLE)))"
    return (
        f"transform(slice(array_sort(transform("
        f"array_distinct(transform({arr}, __ch_e -> __ch_e.val)),"
        f" __ch_v -> struct(-aggregate(filter({arr},"
        f" __ch_e -> __ch_e.val = __ch_v), CAST(0.0 AS DOUBLE),"
        f" (__ch_s, __ch_e) -> __ch_s + __ch_e.wt) AS c,"
        f" __ch_v AS val))), 1, {k}), __ch_s -> __ch_s.val)"
    ), tail[1] + 1


def _sparkbar(sql, m, close, args):
    # parametric sparkbar(width[, min_x, max_x])(x, y): the terminal
    # bar-chart aggregate as a pure-SQL fold. Equal-width buckets over
    # [min_x, max_x] (defaulting to the group's x range), per-bucket
    # y sums, heights scaled to 8 glyph levels. Deterministic spec
    # (documented, not bit-identical to CH's renderer): empty bucket
    # -> ' ', else bars[max(1, ceil(h * 8 / max_h))]. Out-of-range x
    # values are skipped when explicit bounds are given (CH does too).
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            "sparkbar expects the parametric form"
            " sparkbar(width[, min_x, max_x])(x, y)"
        )
    params = args
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(params) not in (1, 3) or len(args) != 2:
        raise ValueError("sparkbar takes sparkbar(width[, min_x, max_x])(x, y)")
    n = params[0].strip()
    x, y = args[0], args[1]
    pair = f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))"
    if len(params) == 3:
        mn0 = f"CAST({params[1]} AS DOUBLE)"
        mx0 = f"CAST({params[2]} AS DOUBLE)"
        cl0 = (
            f"filter(collect_list({pair}),"
            f" __ch_e -> __ch_e.x >= {mn0} AND __ch_e.x <= {mx0})"
        )
    else:
        cl0 = f"collect_list({pair})"
        mn0 = f"array_min(transform({cl0}, __ch_e -> __ch_e.x))"
        mx0 = f"array_max(transform({cl0}, __ch_e -> __ch_e.x))"
    # LET-bind (cl, mn, mx) via a 1-element transform, then the
    # heights array via a second let: without these, mn/mx (an
    # array_min over the whole group) re-evaluate per ELEMENT per
    # bucket — O(n^2 * width) blowup measured on q251 at sf0.01
    env = f"named_struct('cl', {cl0}, 'mn', {mn0}, 'mx', {mx0})"
    bucket = (
        "IF(__ch_sb.mx = __ch_sb.mn, 0,"
        f" least(CAST({n} AS INT) - 1,"
        " CAST(floor((__ch_e.x - __ch_sb.mn)"
        f" * ({n}) / (__ch_sb.mx - __ch_sb.mn)) AS INT)))"
    )
    heights = (
        f"transform(sequence(0, CAST({n} AS INT) - 1),"
        " __ch_b -> aggregate(filter(__ch_sb.cl,"
        f" __ch_e -> {bucket} = __ch_b), CAST(0 AS DOUBLE),"
        " (__ch_a, __ch_e) -> __ch_a + __ch_e.y))"
    )
    bars = "array('▁', '▂', '▃', '▄', '▅', '▆', '▇', '█')"
    render = (
        "concat_ws('', transform(__ch_hh,"
        " __ch_h -> CASE WHEN __ch_h <= 0 THEN ' '"
        f" ELSE element_at({bars}, greatest(1,"
        " CAST(ceil(__ch_h * 8 / array_max(__ch_hh))"
        " AS INT))) END))"
    )
    return (
        f"element_at(transform(array({env}), __ch_sb ->"
        f" element_at(transform(array({heights}),"
        f" __ch_hh -> {render}), 1)), 1)"
    ), tail[1] + 1


def _time_series_grid(sql, m, close, args):
    # parametric timeSeries*ToGrid(start, end, step, window)(ts, v)
    # (r9): the 25.x PromQL-compatible grid family as a pure-SQL fold.
    # Samples collect per group, sort by time; every grid point
    # evaluates its left-open lookback window (g - window, g]:
    #   ResampleToGridWithStaleness -> most recent sample in window
    #   InstantDeltaToGrid -> idelta: v_n - v_{n-1}
    #   InstantRateToGrid  -> irate: counter-reset-aware last-pair rate
    #   DeltaToGrid -> PromQL delta: gauge difference extrapolated to
    #     the window edges (1.1x-avg-spacing threshold, half-spacing
    #     otherwise)
    #   RateToGrid -> PromQL rate: reset-corrected increase, the
    #     counter-zero clamp on the start extrapolation, divided by
    #     the window length
    # Scalar ts/v arguments (arrayJoin array series first). Returns
    # ARRAY<DOUBLE> with NULL at grid points lacking enough samples.
    kind = m.group(1)
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            f"timeSeries{kind} expects the parametric form"
            f" timeSeries{kind}(start, end, step, window)"
            "(timestamp, value)"
        )
    ps = args
    args = _split_top_commas(sql[tail[0] + 1: tail[1]])
    if len(ps) != 4 or len(args) != 2:
        raise ValueError(
            f"timeSeries{kind} takes (start, end, step,"
            " window)(timestamp, value)"
        )
    # fold literal toDateTime[64]('...') grid params into timestamp
    # LITERALS: a SQL-UDF call among the grid params makes Spark's
    # aggregate-extraction rule orphan the lambda variables
    # (MISSING_ATTRIBUTES) — a literal keeps the whole grid
    # expression in one projection
    ps = [
        re.sub(
            r"^\s*toDateTime(?:64)?\s*\(\s*('(?:[^']|'')*')"
            r"\s*(?:,\s*\d+\s*)?\)\s*$",
            r"TIMESTAMP \1",
            p,
        )
        for p in ps
    ]
    start = f"CAST(CAST(({ps[0]}) AS TIMESTAMP) AS DOUBLE)"
    end = f"CAST(CAST(({ps[1]}) AS TIMESTAMP) AS DOUBLE)"
    step = f"CAST(({ps[2]}) AS DOUBLE)"
    w = f"CAST(({ps[3]}) AS DOUBLE)"
    # Bound the per-group state to the grid span INSIDE the
    # aggregate: a sample at t <= start - window or t > end can
    # never fall in any grid point's (g - window, g] lookback, so
    # it is nulled out before collection (collect_list skips NULL
    # inputs).  Without this guard the collected array grows with
    # the full series length regardless of the requested grid —
    # a year of 1 Hz samples asked for a 1-day grid would
    # materialize ~31M structs in one Tungsten row.
    ts_d = f"CAST(CAST(({args[0]}) AS TIMESTAMP) AS DOUBLE)"
    cl = (
        f"array_sort(collect_list(IF({ts_d} > {start} - {w}"
        f" AND {ts_d} <= {end}, named_struct("
        f"'t', {ts_d},"
        f" 'v', CAST(({args[1]}) AS DOUBLE)), NULL)))"
    )
    g = f"({start} + __ch_i * {step})"
    win = f"filter({cl}, __ch_e -> __ch_e.t > {g} - {w} AND __ch_e.t <= {g})"
    wv = "__ch_w"  # the window bound by the let-transform below
    last = f"element_at({wv}, size({wv}))"
    prev = f"element_at({wv}, size({wv}) - 1)"
    if kind == "ResampleToGridWithStaleness":
        val = f"IF(size({wv}) = 0, CAST(NULL AS DOUBLE), {last}.v)"
    elif kind == "InstantDeltaToGrid":
        val = (
            f"IF(size({wv}) < 2, CAST(NULL AS DOUBLE),"
            f" {last}.v - {prev}.v)"
        )
    elif kind == "InstantRateToGrid":
        val = (
            f"IF(size({wv}) < 2, CAST(NULL AS DOUBLE),"
            f" IF({last}.v >= {prev}.v, {last}.v - {prev}.v,"
            f" {last}.v) / nullif({last}.t - {prev}.t, 0))"
        )
    else:  # DeltaToGrid / RateToGrid: PromQL extrapolation
        is_rate = kind == "RateToGrid"
        corr = (
            f"aggregate(sequence(2, size({wv})),"
            " CAST(0 AS DOUBLE), (__ch_a, __ch_j) -> __ch_a"
            f" + IF(element_at({wv}, __ch_j).v"
            f" < element_at({wv}, __ch_j - 1).v,"
            f" element_at({wv}, __ch_j - 1).v,"
            " CAST(0 AS DOUBLE)))"
        ) if is_rate else "CAST(0 AS DOUBLE)"
        stats = (
            "named_struct("
            f"'t1', element_at({wv}, 1).t,"
            f" 'v1', element_at({wv}, 1).v,"
            f" 'tn', {last}.t, 'vn', {last}.v,"
            f" 'nn', CAST(size({wv}) AS DOUBLE),"
            f" 'corr', {corr}, 'gs', {g} - {w}, 'ge', {g})"
        )
        inc = "(__ch_s.vn - __ch_s.v1 + __ch_s.corr)"
        si = "(__ch_s.tn - __ch_s.t1)"
        avg = f"({si} / (__ch_s.nn - 1))"
        ds0 = "(__ch_s.t1 - __ch_s.gs)"
        if is_rate:
            # counter-zero clamp: never extrapolate below v = 0
            ds = (
                f"(CASE WHEN {inc} > 0 AND __ch_s.v1 >= 0"
                f" AND {si} * __ch_s.v1 / nullif({inc}, 0) < {ds0}"
                f" THEN {si} * __ch_s.v1 / {inc} ELSE {ds0} END)"
            )
        else:
            ds = ds0
        de = "(__ch_s.ge - __ch_s.tn)"
        extrap = (
            f"({si} + IF({ds} < 1.1 * {avg}, {ds}, {avg} / 2)"
            f" + IF({de} < 1.1 * {avg}, {de}, {avg} / 2))"
        )
        result = f"{inc} * {extrap} / {si}"
        if is_rate:
            result = f"({result}) / {w}"
        val = (
            f"IF(size({wv}) < 2, CAST(NULL AS DOUBLE),"
            f" element_at(transform(array({stats}), __ch_s ->"
            f" IF({si} <= 0, CAST(NULL AS DOUBLE), {result})), 1))"
        )
    return (
        f"transform(sequence(0, CAST(floor(({end} - {start})"
        f" / {step}) AS INT)), __ch_i ->"
        f" element_at(transform(array({win}),"
        f" {wv} -> {val}), 1))"
    ), tail[1] + 1


def _group_concat(sql, m, close, args):
    # groupConcat[(sep[, limit])](x) → array_join over the collected
    # group (CH's default separator is the empty string); the
    # -Distinct combinator composes (probe batch 56):
    # groupConcatDistinct dedups the collected values first
    tail = _trailing_paren(sql, close)
    x = sql[tail[0] + 1: tail[1]] if tail else sql[m.end(): close]
    coll = f"collect_list(CAST({x} AS STRING))"
    if m.group(1):
        coll = f"array_distinct({coll})"
    if tail is None:
        return f"array_join({coll}, '')"
    if len(args) == 2:
        coll = f"slice({coll}, 1, {args[1].strip()})"
    return f"array_join({coll}, {args[0].strip()})", tail[1] + 1


def _group_array_moving(sql, m, close, args):
    # parametric groupArrayMovingSum/Avg(n)(x): windowed sums over the
    # group's collected sequence (insertion-order caveat as in CH —
    # pair with an ORDER BY-ed subquery for determinism). MovingAvg
    # divides by the full window size n even for the leading partial
    # windows, exactly like ClickHouse.
    kind = m.group(1)
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError(
            f"groupArrayMoving{kind} expects the parametric form"
            f" groupArrayMoving{kind}(n)(x)"
        )
    n_w = sql[m.end(): close].strip()
    arr = f"collect_list({sql[tail[0] + 1: tail[1]]})"
    win_sum = (
        f"aggregate(slice({arr},"
        f" greatest(__ch_i - ({n_w}) + 2, 1),"
        f" least(({n_w}), __ch_i + 1)),"
        f" CAST(0.0 AS DOUBLE), (__ch_s, __ch_t) -> __ch_s + __ch_t)"
    )
    if kind == "Avg":
        win_sum = f"({win_sum} / ({n_w}))"
    return (
        f"transform(sequence(0, size({arr}) - 1), __ch_i -> {win_sum})"
    ), tail[1] + 1


# -Array combinators: aggregate over all ELEMENTS across rows. avgArray
# is sum-of-elements / count-of-elements, NOT avg of per-row means —
# matching CH exactly.
_ARRAY_AGG_FORMS = {
    "sumArray": "sum(aggregate({x}, CAST(0.0 AS DOUBLE), (s, t) -> s + t))",
    "minArray": "min(array_min({x}))",
    "maxArray": "max(array_max({x}))",
    "avgArray": (
        "(sum(aggregate({x}, CAST(0.0 AS DOUBLE), (s, t) -> s + t))"
        " / sum(size({x})))"
    ),
    "countArray": "sum(size({x}))",
    # distinct ELEMENTS across all rows' arrays (CH uniqArray); exact,
    # like the uniqExact translation
    "uniqArray": "size(array_distinct(flatten(collect_list({x}))))",
    "uniqExactArray": "size(array_distinct(flatten(collect_list({x}))))",
    # concatenation / distinct-union of the group's arrays
    "groupArrayArray": "flatten(collect_list({x}))",
    "groupUniqArrayArray": "array_distinct(flatten(collect_list({x})))",
}

# -ForEach combinators: aggregate POSITION-WISE across the group's
# arrays (result length = longest array; shorter arrays simply
# contribute nothing at the missing positions, matching CH's
# default-padding for sum/count and absent-value skip for min/max).
# One collect_list aggregate + a per-position fold — Catalyst dedupes
# the repeated semantically-equal collect_list text.
_FOREACH_BASES = {
    "sum": (
        "aggregate({v}, CAST(0.0 AS DOUBLE),"
        " (__ch_s, __ch_t) -> __ch_s + __ch_t)"
    ),
    "min": "array_min({v})",
    "max": "array_max({v})",
    "avg": (
        "(aggregate({v}, CAST(0.0 AS DOUBLE),"
        " (__ch_s, __ch_t) -> __ch_s + __ch_t) / size({v}))"
    ),
    "count": "size({v})",
    # first / last surviving value per position ({v} is already
    # null-filtered) — the any family's skip-NULL contract (batch-78).
    # anyLast scans before any (prefix overlap).
    "anyLast": "try_element_at({v}, -1)",
    "any": "try_element_at({v}, 1)",
    # position-wise deterministic mode (count desc, value asc) — the
    # scalar anyHeavy contract per position (batch-82b)
    "anyHeavy": (
        "element_at(transform(array_sort(transform("
        "array_distinct({v}), __ch_u -> struct("
        "-size(filter({v}, __ch_w -> __ch_w <=> __ch_u)) AS negc,"
        " __ch_u AS val))), __ch_t -> __ch_t.val), 1)"
    ),
    "uniq": "size(array_distinct({v}))",
    "uniqExact": "size(array_distinct({v}))",
}
_FOREACH_VALS = (
    "filter(transform(collect_list({x}),"
    " __ch_a -> try_element_at(__ch_a, __ch_i)),"
    " __ch_x -> __ch_x IS NOT NULL)"
)
# all-empty guard: Spark's sequence(1, 0) DESCENDS to [1, 0], so a zero
# max width must yield an empty spine
_FOREACH_WIDTH = (
    "coalesce(array_max(transform(collect_list({x}),"
    " __ch_a -> size(__ch_a))), 0)"
)
_FOREACH_SPINE = (
    f"(CASE WHEN {_FOREACH_WIDTH} >= 1 THEN sequence(1, {_FOREACH_WIDTH})"
    f" ELSE CAST(array() AS ARRAY<INT>) END)"
)


def _agg_if(sql, m, close, args):
    # generalized -If combinator: <base>If(args..., cond)
    name = m.group(1)
    if _trailing_paren(sql, close) is not None:
        # a parametric <agg>If(params)(...) reaching THIS rule has no
        # parametric rewrite of its own (the groupArray family is
        # folded earlier) — refuse loudly rather than emit text no
        # later rule consumes
        raise ValueError(
            f"{name}If(params)(...) has no parametric rewrite —"
            " supported parametric -If forms: quantile*, topK,"
            " the groupArray family"
        )
    if len(args) < 2:
        raise ValueError(f"{name}If expects (args..., cond)")
    cond = args[-1]
    wrapped = ", ".join(f"if({cond}, {a}, NULL)" for a in args[:-1])
    base = _AGG_IF_ALL[name]
    return base.format(wrapped) if "{}" in base else f"{base}({wrapped})"


def _leftover_parametric_if(sql, m, close, args):
    # any LEFTOVER parametric <agg>If(params)(args) — a name outside
    # _AGG_IF_ALL, e.g. topKWeightedIf / histogramIf — previously fell
    # through to an opaque Spark unresolved-routine error (batch-72):
    # refuse loudly with the supported list instead
    if _trailing_paren(sql, close) is not None:
        raise ValueError(
            f"{m.group(1)}If(params)(...) has no parametric"
            " rewrite — supported parametric -If forms:"
            " quantile*, topK, the groupArray family"
        )
    return None


def _quantile_merge(sql, m, close, args):
    # quantileMerge(p)(state): states are DDSketch log-bucket histogram
    # maps (streaming/matview.py) — merge cell-wise across rows, then
    # walk with the registered chDDQuantile read-out
    plural = sql[m.start(): m.start() + 9] == "quantiles"
    tail = _trailing_paren(sql, close)
    if tail is None:
        raise ValueError("quantileMerge expects quantileMerge(p)(state)")
    fl = f"flatten(collect_list(map_entries({sql[tail[0] + 1: tail[1]]})))"
    # {fl} carries user text inside lambda bodies — collision-
    # improbable lambda vars required
    merged = (
        f"map_from_entries(array_sort(transform("
        f"array_distinct(transform({fl}, __ch_e -> __ch_e.key)),"
        f" __ch_k -> struct(__ch_k AS key,"
        f" aggregate(filter({fl}, __ch_e -> __ch_e.key = __ch_k),"
        f" CAST(0 AS BIGINT),"
        f" (__ch_s, __ch_e) -> __ch_s + __ch_e.value) AS value))))"
    )
    if plural:
        expr = "array({})".format(
            ", ".join(f"chDDQuantile({merged}, {p})" for p in args)
        )
    else:
        expr = f"chDDQuantile({merged}, {args[0]})"
    return expr, tail[1] + 1


def _state_forms(*entries) -> tuple:
    """-State / -Merge splice forms: ``{x}`` templates take the raw
    argument text; ``{0}``/``{1}`` templates take that many arguments."""
    out = []
    for name, tpl in entries:
        if "{0}" in tpl:
            need = 2 if "{1}" in tpl else 1
            tpl = {need: tpl, None: f"{name} expects {need} argument(s)"}
        out.append((name, tpl))
    return tuple(out)


# the aggregate-spelling passes of _rewrite_agg_spellings, in pass order
# (the two IfOrNull/ArrayOrNull strips run between the two tables)
_AGG_RULES_HEAD = _rules(
    # parametric -Array stackings, handled BEFORE the scalar parametric
    # rule so the names don't collide
    (r"(quantiles?)((?:Exact|TDigest|Timing|BFloat16"
     r"|Interpolated|Deterministic|GK|DD)?\w*?)Array", _quantile_array),
    # anyHeavyArray(arr): mode over the flattened elements — the head
    # of the exact topKArray(1) fold (count desc, value asc, the scalar
    # anyHeavy contract; batch-82b)
    ("anyHeavyArray", "try_element_at(topKArray(1)({x}), 1)"),
    ("topKArray", _top_k_array),
    (r"(quantiles?)((?:Exact(?:WeightedInterpolated|Weighted|Low|High"
     r"|Inclusive|Exclusive)?|InterpolatedWeighted|TDigest(?:Weighted)?"
     r"|Timing(?:Weighted)?|BFloat16(?:Weighted)?|Deterministic|DD|GK)?)"
     r"(If)?", _quantile, re.I),
)
_AGG_RULES_TAIL = _rules(
    (r"group(Uniq)?Array(Sorted|Sample|Last)?If", _group_array_if_params),
    *((f"({name})", _size_cap) for name in _SIZE_CAPS),
    (r"sumMapFiltered(WithOverflow)?", _sum_map_filtered),
    (r"(sum|min|max|avg|count|uniqExact|uniq|anyHeavy)(?:Map|MappedArrays)"
     r"(?:WithOverflow)?(If)?", _map_agg),
    ("approx_top_k", _partial(_approx_top, "topK")),
    ("approx_top_count", _partial(_approx_top, "topK")),
    ("approx_top_sum", _partial(_approx_top, "topKWeighted")),
    (r"topK(If)?", _top_k),
    ("topKWeighted", _top_k_weighted),
    ("sparkbar", _sparkbar, re.I),
    (r"timeSeries(RateToGrid|InstantRateToGrid|DeltaToGrid"
     r"|InstantDeltaToGrid|ResampleToGridWithStaleness)", _time_series_grid),
    (r"groupConcat(Distinct)?", _group_concat),
    (r"groupArrayMoving(Sum|Avg)", _group_array_moving),
    ("median", "approx_percentile({x}, 0.5)", re.I),
    ("uniqExact", "count(DISTINCT {x})", re.I),
    # stacked -ArrayIf combinators reduce to -Array over a NULLed-out
    # array (collect_list / the element folds all skip NULL rows), so
    # they run FIRST and feed the -Array templates below
    *((f"{base}ArrayIf", {
        2: f"{base}Array(if({{1}}, {{0}}, NULL))",
        None: f"{base}ArrayIf expects (array_expr, cond)",
    }, re.I) for base in (
        "sum", "min", "max", "avg", "count", "uniq",
        "groupArray", "groupUniqArray",
    )),
    *((name, tpl, re.I) for name, tpl in _ARRAY_AGG_FORMS.items()),
    *(rule for base, combine in _FOREACH_BASES.items() for rule in (
        (f"{base}ForEachIf", {
            2: f"{base}ForEach(if({{1}}, {{0}}, NULL))",
            None: f"{base}ForEachIf expects (array_expr, cond)",
        }, re.I),
        (f"{base}ForEach",
         f"transform({_FOREACH_SPINE},"
         f" __ch_i -> {combine.format(v=_FOREACH_VALS)})", re.I),
    )),
    # -Distinct combinators (countDistinct is already the Spark name).
    # anyHeavyDistinct: every distinct value occurs once in the
    # distinct stream, so the deterministic mode tie-break (lowest
    # value) IS min — rewritten directly (batch-82b)
    ("anyHeavyDistinct", "min({x})"),
    ("sumDistinct", "sum(DISTINCT {x})", re.I),
    ("avgDistinct", "avg(DISTINCT {x})", re.I),
    # generalized -If combinator: special-case the two that don't fit
    # the wrap-each-arg rule first
    ("uniqExactIf", {
        2: "count(DISTINCT if({1}, {0}, NULL))",
        None: "uniqExactIf expects (expr, cond)",
    }, re.I),
    ("medianIf", {
        2: "approx_percentile(if({1}, {0}, NULL), 0.5)",
        None: "medianIf expects (expr, cond)",
    }, re.I),
    # every other base in one alternation (longest names first)
    ("(" + "|".join(sorted(_AGG_IF_ALL, key=len, reverse=True)) + ")If",
     _agg_if),
    (r"([A-Za-z_]\w*)If", _leftover_parametric_if),
    # uniqMerge(state): merge HLL partials, then estimate — the read
    # side of the matview/projection uniqState storage (hll_sketch_agg).
    # The uniq VARIANT spellings (Combined/HLL12/Theta) write the same
    # sketch family here, so their -Merge forms read identically.
    *((name, "hll_sketch_estimate(hll_union_agg({x}))") for name in (
        "uniqCombined64Merge", "uniqCombinedMerge", "uniqHLL12Merge",
        "uniqThetaMerge", "uniqMerge",
    )),
    (r"quantiles?(?:TDigest|Timing|BFloat16|Exact|Deterministic)?Merge",
     _quantile_merge),
    # avgMerge(state): the stored avg state is a (sum, count) struct
    # (ddl.MatView.states) — merge both, then divide
    ("avgMerge", "(sum(({x}).s) / sum(({x}).c))"),
    # -State / -Merge splice forms whose state is not a plain value:
    # avg states are the (s, c) structs avgMerge above reads back;
    # groupArray states are the arrays themselves (merging
    # concatenates); uniqExact states are exact element sets (merging
    # is distinct union — memory-linear in distinct values, same as
    # ClickHouse's uniqExact hash-set state).
    *_state_forms(
        # anyHeavy states are per-value counts maps (the heavy-hitters
        # counter structure, exact): merging sums counts per key, the
        # -Merge readout is the deterministic mode (count desc, key
        # asc) — unlike a value-typed state, mode-of-modes would be
        # wrong under re-aggregation (batch-82b)
        ("anyHeavyMergeState",
         "map_from_entries(array_sort(transform(array_distinct("
         "transform(flatten(collect_list(map_entries({x}))),"
         " __ch_e -> __ch_e.key)), __ch_k -> struct(__ch_k AS key,"
         " aggregate(filter(flatten(collect_list(map_entries({x}))),"
         " __ch_e -> __ch_e.key <=> __ch_k), CAST(0 AS BIGINT),"
         " (__ch_s, __ch_e) -> __ch_s + __ch_e.value) AS value))))"),
        ("anyHeavyMerge",
         "element_at(transform(array_sort(transform(array_distinct("
         "transform(flatten(collect_list(map_entries({x}))),"
         " __ch_e -> __ch_e.key)), __ch_k -> struct("
         " aggregate(filter(flatten(collect_list(map_entries({x}))),"
         " __ch_e -> __ch_e.key <=> __ch_k), CAST(0 AS BIGINT),"
         " (__ch_s, __ch_e) -> __ch_s - __ch_e.value) AS negc,"
         " __ch_k AS key))), __ch_t -> __ch_t.key), 1)"),
        ("anyHeavyState",
         "map_from_entries(transform(array_sort(array_distinct("
         "collect_list({x}))), __ch_hv -> struct(__ch_hv AS key,"
         " CAST(size(filter(collect_list({x}),"
         " __ch_hw -> __ch_hw <=> __ch_hv)) AS BIGINT) AS value)))"),
        ("avgMergeState",
         "named_struct('s', sum(({x}).s), 'c', sum(({x}).c))"),
        ("avgState", "named_struct('s', sum({x}), 'c', count({x}))"),
        ("uniqExactMergeState",
         "array_distinct(flatten(collect_list({x})))"),
        ("uniqExactMerge",
         "CAST(size(array_distinct(flatten(collect_list({x}))))"
         " AS BIGINT)"),
        ("groupUniqArrayMergeState",
         "array_distinct(flatten(collect_list({x})))"),
        ("groupUniqArrayMerge",
         "array_distinct(flatten(collect_list({x})))"),
        ("groupArrayMergeState", "flatten(collect_list({x}))"),
        ("groupArrayMerge", "flatten(collect_list({x}))"),
        # argMax/argMin states carry (value-at-extreme, extreme-key);
        # re-merging picks the value whose stored key wins again.
        # Ties break like the base argMax/argMin mapping (max_by/min_by,
        # arbitrary among tied keys).
        ("argMaxMergeState",
         "named_struct('v', max_by(({0}).v, ({0}).k),"
         " 'k', max(({0}).k))"),
        ("argMinMergeState",
         "named_struct('v', min_by(({0}).v, ({0}).k),"
         " 'k', min(({0}).k))"),
        ("argMaxMerge", "max_by(({0}).v, ({0}).k)"),
        ("argMinMerge", "min_by(({0}).v, ({0}).k)"),
        ("argMaxState",
         "named_struct('v', max_by({0}, {1}), 'k', max({1}))"),
        ("argMinState",
         "named_struct('v', min_by({0}, {1}), 'k', min({1}))"),
        # -OrDefault: the return type's DEFAULT over an empty set
        # instead of NULL (numeric-returning bases — 0; the
        # type-polymorphic min/max/any forms refuse, see
        # _OPERATOR_ONLY_AGGS)
        ("sumOrDefault", "coalesce(sum({x}), 0)"),
        ("avgOrDefault", "coalesce(avg({x}), CAST(0.0 AS DOUBLE))"),
        ("countOrDefault", "count({x})"),
        ("uniqExactOrDefault", "coalesce(count(DISTINCT {x}), 0)"),
        ("uniqOrDefault", "coalesce(approx_count_distinct({x}), 0)"),
    ),
    # CH's any/anyLast/anyHeavy SKIP NULLs; Spark's any_value/last only
    # do so with the ignoreNulls flag, so the bare rename silently
    # returned NULL whenever the first-encountered row was NULL
    # (batch-72). anyLast scans before any so the prefix can't collide.
    # anyHeavy is mode(x, true), NOT an any_value rename (verdict r10):
    # CH's heavy-hitters contract deterministically returns a value
    # holding a strict majority, which the modal value trivially honors
    # (the true flag pins ties to the lowest value, oracle-stable);
    # Spark's Mode keeps per-group state bounded by the DISTINCT count
    # with map-side partials, and skips NULLs natively (the true here
    # is the deterministic flag, not ignoreNulls).
    *((name, f"{fn}({{x}}, true)") for name, fn in (
        ("anyLastOrNull", "last"), ("anyOrNull", "any_value"),
        ("anyHeavySimpleState", "mode"), ("anyHeavyOrNull", "mode"),
        ("anyLast", "last"), ("anyHeavy", "mode"),
        ("any", "any_value"),
    )),
    *_AGG_NAME_MAP.items(),
    (r"count(?=\s*\(\s*\))", "count(*)", re.I),
    # aggregates that need a rank/contingency/iterative pass a string
    # rewrite cannot express: fail with the operator to use instead of
    # Spark's bare unresolved-routine error
    *((name, {None: f"{name} is not SQL-translatable — use {alt}"})
      for name, alt in _OPERATOR_ONLY_AGGS.items()),
)


def _rewrite_agg_spellings(sql: str) -> str:
    """ClickHouse aggregate-function spellings → Spark builtins, so the
    aggregates in a reference user's saved SQL run verbatim:

    - name-for-name (``uniq``→``approx_count_distinct``, ``argMax``→
      ``max_by``, ``any``→``any_value``, ``groupArray``→``collect_list``,
      ...) — case-sensitive, longest name first;
    - ``uniqExact(x)`` → ``count(DISTINCT x)``;
    - ``-If`` combinators ``sumIf/avgIf/minIf/maxIf(x, c)`` →
      ``agg(if(c, x, NULL))`` (``countIf``→``count_if`` is native);
    - the parametric quantile family ``quantileX(p)(x)`` /
      ``quantilesX(p1, ...)(x)``: ``Exact`` variants → exact
      ``percentile``, everything else (TDigest/Timing/BFloat16/plain) →
      ``approx_percentile`` (CH's default quantile is approximate too);
      bare ``quantile(x)`` / ``median(x)`` → p = 0.5;
    - ``count()`` → ``count(*)``.

    Weighted variants (quantileExactWeighted, topKWeighted) are NOT
    string-rewritable to a builtin — use functions/clickhouse.py /
    operators; they pass through and fail with Spark's clear
    unresolved-routine error."""
    sql = _rewrite_calls(sql, _AGG_RULES_HEAD)
    # redundant-OrNull stackings strip first (probe batch 66): the
    # conditional/array-flattened aggregate already yields NULL over an
    # empty match set in Spark
    sql = re.sub(
        r"\b(sum|avg|min|max|anyHeavy|any)IfOrNull\s*\(", r"\1If(", sql
    )
    sql = re.sub(
        r"\b(sum|avg|min|max)ArrayOrNull\s*\(", r"\1Array(", sql
    )
    return _rewrite_calls(sql, _AGG_RULES_TAIL)


# ClickHouse higher-order array functions put the LAMBDA FIRST
# (arrayMap(x -> x*2, arr)); Spark's equivalents put the array first.
# Two-array arrayMap becomes zip_with. The lambda syntax itself
# (x -> expr, (x, y) -> expr) is identical in both dialects.
_HOF_SWAP = {
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
}


def _rewrite_scalar_with(sql: str) -> str:
    """ClickHouse's scalar WITH — ``WITH <expr> AS name, ... SELECT``
    binds constants/expressions, not CTEs. Spark's WITH only takes
    subqueries, so scalar items substitute textually (name → (expr))
    into the rest of the query; genuine CTE items (``name AS (...)``)
    stay in place. Mixed lists work: scalar items are removed from the
    WITH list, CTEs remain."""
    m = _find_top(sql, r"^\s*WITH\s+")
    if not m:
        return sql
    tail = sql[m.end():]
    stop = _find_top(tail, r"\bSELECT\b")
    if not stop:
        return sql
    items = _split_top_commas(tail[: stop.start()])
    ctes, scalars = [], {}
    for item in items:
        cm = re.match(r"^(\w+)\s+AS\s*\(", item.strip(), re.I)
        if cm:
            ctes.append(item)
            continue
        sm = re.match(r"^(.*\S)\s+AS\s+(\w+)\s*$", item.strip(), re.I | re.S)
        if not sm:
            return sql  # unrecognized WITH shape — leave for Spark
        scalars[sm.group(2)] = sm.group(1)
    if not scalars:
        return sql
    rest = tail[stop.start():]
    for name, expr in scalars.items():
        # string-literal-guarded (a literal mentioning the binding name
        # as a word is user data); _sub_outside_strings takes the repl
        # VERBATIM, so backslashes in expr survive
        rest = _sub_outside_strings(rest, re.compile(rf"\b{name}\b"), f"({expr})")
    head = f"WITH {', '.join(ctes)} " if ctes else ""
    return sql[: m.start()] + head + rest


def _hof_swap(name, sql, m, close, args):
    target = _HOF_SWAP[name]
    if len(args) < 2:
        raise ValueError(f"{name} expects (lambda, array...)")
    # Spark can't resolve SQL-UDF macros inside a lambda body
    # (same limitation as generators — see _inline_ch_macros),
    # so ClickHouse spellings in the lambda inline to their
    # builtin bodies first.
    lam, arrs = _inline_ch_macros(args[0]), args[1:]
    if name == "arrayMap" and len(arrs) == 2:
        repl = f"zip_with({arrs[0]}, {arrs[1]}, {lam})"
    elif len(arrs) == 2:
        # the two-array forms (batch-86): evaluate the lambda
        # over the zipped pair, then fold the flags —
        # arrayFilter keeps the FIRST array's elements at
        # truthy positions (CH's contract); exists/forall test
        # the flag stream (CAST covers UInt8-returning lambdas)
        flags = f"zip_with({arrs[0]}, {arrs[1]}, {lam})"
        if name == "arrayFilter":
            repl = (
                f"transform(filter(zip_with({arrs[0]}, {flags},"
                " (__ch_hv, __ch_hk) -> struct(__ch_hv AS v,"
                " __ch_hk AS k)),"
                " __ch_hs -> CAST(__ch_hs.k AS BOOLEAN)),"
                " __ch_hs -> __ch_hs.v)"
            )
        else:
            repl = (
                f"{target}({flags},"
                " __ch_hx -> CAST(__ch_hx AS BOOLEAN))"
            )
    elif len(arrs) != 1:
        raise ValueError(
            f"{name}: expected one or two array arguments"
        )
    else:
        repl = f"{target}({arrs[0]}, {lam})"
    return repl


def _array_split(sp_name, sql, m, close, args):
    # arraySplit / arrayReverseSplit (lambda-first): segment the data
    # array at flagged positions — Split cuts BEFORE a flagged element
    # (the flag marks a segment head; position 1's flag is a no-op),
    # ReverseSplit cuts AFTER one (flag marks a segment tail; the last
    # position's flag is a no-op) — the ClickHouse doc examples
    # verbatim. Data + computed flags bind once via the single-element
    # transform trick; cut positions become slice() bounds.
    sp_after = sp_name == "arrayReverseSplit"
    if len(args) not in (2, 3):
        raise ValueError(
            f"{sp_name} expects (lambda, data[, flags])"
        )
    lam = _inline_ch_macros(args[0])
    d = args[1].strip()
    if len(args) == 2:
        flags = f"transform({d}, {lam})"
    else:
        flags = f"zip_with({d}, {args[2].strip()}, {lam})"
    if sp_after:
        cond = (
            "__i < size(__sp.d)"
            " AND CAST(element_at(__sp.f, __i) AS BOOLEAN)"
        )
        cutpos = "__i + 1"
    else:
        cond = (
            "__i > 1"
            " AND CAST(element_at(__sp.f, __i) AS BOOLEAN)"
        )
        cutpos = "__i"
    return (
        f"(CASE WHEN size({d}) <= 0"
        f" THEN transform({d}, __sp0 -> {d}) ELSE"
        f" element_at(transform(array(named_struct('d', {d},"
        f" 'f', {flags})), __sp ->"
        " element_at(transform(array(concat(array(1),"
        " filter(transform(sequence(1, size(__sp.d)),"
        f" __i -> IF({cond}, {cutpos}, CAST(NULL AS INT))),"
        " __p -> __p IS NOT NULL),"
        " array(size(__sp.d) + 1))), __cuts ->"
        " transform(sequence(1, size(__cuts) - 1),"
        " __k -> slice(__sp.d, element_at(__cuts, __k),"
        " element_at(__cuts, __k + 1)"
        " - element_at(__cuts, __k)))), 1)), 1) END)"
    )


def _lambda_first(name, template, sql, m, close, args):
    if len(args) != 2:
        raise ValueError(f"{name} expects (lambda, array)")
    return template.format(f=_inline_ch_macros(args[0]), a=args[1])


_HOF_RULES = _rules(
    *((name, _partial(_hof_swap, name), re.I) for name in _HOF_SWAP),
    *((name, _partial(_array_split, name), re.I)
      for name in ("arrayReverseSplit", "arraySplit")),
    # try_element_at everywhere: under ANSI mode a plain element_at
    # THROWS when no element matches (empty filter result); NULL is the
    # no-match value (CH returns the type default — NULL is the Spark
    # idiom, and the *Index forms coalesce to CH's 0)
    *((name, _partial(_lambda_first, name, template), re.I)
      for name, template in (
        ("arrayCount", "size(filter({a}, {f}))"),
        # longest names first so arrayFirstIndex never matches arrayFirst.
        # Value-keyed position is exact: the lambda is a pure function of
        # the element, so the first occurrence of a matching VALUE is the
        # first matching index. No match -> 0, as in ClickHouse.
        ("arrayFirstIndex",
         "coalesce(array_position({a},"
         " try_element_at(filter({a}, {f}), 1)), 0)"),
        # last index via the reversed array (first occurrence there IS
        # the last occurrence in the original)
        ("arrayLastIndex",
         "coalesce(size({a}) + 1 - array_position(reverse({a}),"
         " try_element_at(filter({a}, {f}), -1)), 0)"),
        ("arrayFirst", "try_element_at(filter({a}, {f}), 1)"),
        ("arrayLast", "try_element_at(filter({a}, {f}), -1)"),
    )),
)


def _rewrite_array_hofs(sql: str) -> str:
    """Lambda-first ClickHouse array HOFs → array-first Spark builtins:
    arrayMap/arrayFilter/arrayExists/arrayAll(f, a) → transform/filter/
    exists/forall(a, f); arrayMap(f, a, b) → zip_with(a, b, f);
    arrayCount(f, a) → size(filter(a, f)); arrayFirst(f, a) →
    element_at(filter(a, f), 1) (NULL when nothing matches — CH returns
    the type's default value there; NULL is the honest Spark spelling
    and the deviation is this docstring)."""
    return _rewrite_calls(sql, _HOF_RULES)


def _rewrite_any_join(sql: str, specs: dict | None) -> str:
    """ClickHouse ``[LEFT|INNER] ANY JOIN t USING (k, ...)`` → a plain
    join against a one-row-per-key reduction of the right side (the
    same WindowGroupLimit shape as operators/joins.py:any_join, spelled
    in SQL so it survives a string rewrite).

    CH picks an arbitrary matching row; here the pick is deterministic:
    ordered by the table's full column list when its TableSpec is known
    (oracle-reproducible), else by the join key (still a valid "any").
    RIGHT ANY JOIN (left-side dedup in CH) and ON-clause/subquery forms
    are rejected with a pointer to the operator API."""
    if _find_top_anywhere(sql, r"\bASOF\s+(LEFT\s+)?JOIN\b"):
        raise ValueError(
            "ASOF JOIN has no faithful string rewrite (the dedup-to-best-"
            "match needs a unique left-row id); use "
            "operators/joins.py:asof_join (q24 is the worked example)"
        )
    if _find_top_anywhere(sql, r"\bRIGHT\s+ANY\s+JOIN\b"):
        raise ValueError(
            "RIGHT ANY JOIN is not translated (it dedups the LEFT side); "
            "rewrite as a reversed LEFT ANY JOIN or use "
            "operators/joins.py:any_join"
        )
    if _find_top_anywhere(sql, r"\bPASTE\s+JOIN\b"):
        # without this check Spark parses `t PASTE JOIN u` as table t
        # ALIASED 'PASTE' inner-joined to u — silently wrong, not loud
        raise ValueError(
            "PASTE JOIN pairs rows by physical block order, which is"
            " undefined under a distributed scan — join on an explicit"
            " row_number() window instead"
        )

    def one_row_per_key(m) -> str:
        how = (m.group(1) or m.group(2) or "INNER").upper()
        table, alias = m.group(3), m.group(4) or m.group(3).split(".")[-1]
        keys = [k.strip() for k in m.group(5).split(",") if k.strip()]
        spec = (specs or {}).get(table.split(".")[-1])
        if spec is not None:
            order_cols = [f for f in spec.schema.fieldNames() if f not in spec.alias_cols]
        else:
            order_cols = keys
        # __any_rn must not leak into the outer SELECT *: drop it with
        # a star-EXCEPT projection on the reduced side.
        one = (
            f"(SELECT * EXCEPT (__any_rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {', '.join(keys)} ORDER BY "
            f"{', '.join(order_cols)}) AS __any_rn FROM {table}) "
            f"WHERE __any_rn = 1)"
        )
        return f"{how} JOIN {one} AS {alias} USING ({', '.join(keys)})"

    sql = _sub_outside_strings(sql, _ANY_JOIN_USING, one_row_per_key)
    if _find_top_anywhere(sql, r"\bANY\s+(LEFT\s+|INNER\s+)?JOIN\b"):
        raise ValueError(
            "ANY JOIN is only translated for `[LEFT|INNER] ANY JOIN "
            "<table> USING (...)`; for ON-clause or subquery forms "
            "use operators/joins.py:any_join"
        )
    return sql


_ANY_JOIN_USING = re.compile(
    r"\b(?:(LEFT|INNER)\s+)?ANY\s+(?:(LEFT|INNER)\s+)?JOIN\s+"
    r"([A-Za-z_][\w.]*)\s*(?:AS\s+(\w+)\s*)?USING\s*\(([^)]*)\)",
    re.I,
)


def _rewrite_system(sql: str) -> str:
    """ClickHouse ``system.<table>`` introspection names → the engine's
    registered ``system_<table>`` views (Spark temp views cannot carry a
    database qualifier). Token-level, never inside strings.
    ``system.one`` — the implicit FROM-less table (one row, ``dummy``
    UInt8 = 0) — inlines as a literal subquery (batch-83)."""
    # no synthetic alias for system.one: Spark accepts a bare FROM
    # subquery, and a user alias (FROM system.one AS t) then applies
    sql = _sub_outside_strings(
        sql, _SYSTEM_ONE, "(SELECT CAST(0 AS SMALLINT) AS dummy)", top=True
    )
    return _sub_outside_strings(
        sql, _SYSTEM_TABLES, lambda m: f"system_{m.group(1)}", top=True
    )


_SYSTEM_ONE = re.compile(r"\bsystem\.one\b", re.I)
_SYSTEM_TABLES = re.compile(
    r"\bsystem\.(tables|columns|parts|query_log|functions|databases"
    r"|mutations|processes|merges|replicas|dictionaries|disks|settings)\b",
    re.I,
)


# ClickHouse type names → Spark SQL type names, for CAST(x AS Float64),
# x::Float64 and accurateCast[OrNull](x, 'Type'). Unsigned widths widen
# to the next signed Spark type (UInt64 stays BIGINT — documented
# narrowing, Spark has no unsigned 64-bit), mirroring ddl._SIMPLE_TYPES.
_CH_TYPE_NAMES = {
    "int8": "TINYINT",
    "int16": "SMALLINT",
    "int32": "INT",
    "int64": "BIGINT",
    "int128": "DECIMAL(38, 0)",
    "int256": "DECIMAL(38, 0)",
    "uint8": "SMALLINT",
    "uint16": "INT",
    "uint32": "BIGINT",
    "uint64": "BIGINT",
    "uint128": "DECIMAL(38, 0)",
    "uint256": "DECIMAL(38, 0)",
    "float32": "FLOAT",
    "float64": "DOUBLE",
    "string": "STRING",
    "uuid": "STRING",
    "ipv4": "STRING",
    "ipv6": "STRING",
    "date": "DATE",
    "date32": "DATE",
    "datetime": "TIMESTAMP",
    "datetime64": "TIMESTAMP",  # the bare no-precision spelling
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
}


def _spark_type_name(ch: str) -> str | None:
    """Spark SQL spelling of a ClickHouse type name, or None when the
    token isn't a (supported) ClickHouse type. Unwraps Nullable /
    LowCardinality, recurses into Array, parameterizes Decimal."""
    t = ch.strip()
    m = re.fullmatch(r"(?is)(?:Nullable|LowCardinality)\s*\((.*)\)", t)
    if m:
        return _spark_type_name(m.group(1))
    m = re.fullmatch(r"(?is)Array\s*\((.*)\)", t)
    if m:
        inner = _spark_type_name(m.group(1))
        return f"ARRAY<{inner}>" if inner else None
    if re.fullmatch(r"(?i)DateTime(?:64)?\s*\([^()]*\)", t):
        return "TIMESTAMP"
    if re.fullmatch(r"(?i)FixedString\s*\(\s*\d+\s*\)", t):
        return "STRING"
    m = re.fullmatch(r"(?i)Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return f"DECIMAL({m.group(1)}, {m.group(2)})"
    m = re.fullmatch(r"(?i)Decimal(32|64|128|256)\s*\(\s*(\d+)\s*\)", t)
    if m:
        p = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        return f"DECIMAL({p}, {m.group(2)})"
    return _CH_TYPE_NAMES.get(t.lower())


def _accurate_cast_or_default(sql, m, close, args):
    # accurateCastOrDefault(x, 'Type'[, d]): TRY_CAST coalesced onto the
    # default (or the type's zero default when omitted, like CH)
    if len(args) not in (2, 3):
        raise ValueError(
            "accurateCastOrDefault expects (expr, 'Type'[, default])"
        )
    tname = args[1].strip().strip("'\"")
    spark_t = _spark_type_name(tname) or tname
    if len(args) == 3:
        default = args[2]
    else:
        # CH's implicit default is the type's zero value; literal 0
        # doesn't CAST to temporal/bool targets in Spark (ADVICE r9)
        su = spark_t.upper()
        if su.startswith(("STRING", "VARCHAR", "CHAR")):
            default = "''"
        elif su.startswith("TIMESTAMP"):
            default = "TIMESTAMP'1970-01-01 00:00:00'"
        elif su.startswith("DATE"):
            default = "DATE'1970-01-01'"
        elif su.startswith("BOOL"):
            default = "false"
        else:
            default = "0"
    return (
        f"coalesce(TRY_CAST({args[0]} AS {spark_t}),"
        f" CAST({default} AS {spark_t}))"
    )


def _accurate_cast(name, sql, m, close, args):
    if len(args) != 2:
        raise ValueError(f"{name} expects (expr, 'Type')")
    tname = args[1].strip().strip("'\"")
    spark_t = _spark_type_name(tname) or tname
    fn = "TRY_CAST" if name == "accurateCastOrNull" else "CAST"
    return f"{fn}({args[0]} AS {spark_t})"


_AS_SEP = re.compile(r"(?i)(?= AS[ \t])")


def _cast_type(sql, m, close, args):
    # CAST(expr AS Type): rewrite the type token after the LAST
    # top-level AS inside the call when it is a ClickHouse name
    inner = sql[m.end(): close]
    idx = _scan_index(inner)
    as_pos = None
    for am in _AS_SEP.finditer(inner):
        if _idx_depth(idx, am.start()) == 0 and not _idx_in_string(idx, am.start()):
            as_pos = am.start()
    if as_pos is not None:
        tok = inner[as_pos + 4:].strip()
        spark_t = _spark_type_name(tok)
        if not spark_t or spark_t.upper() == tok.upper():
            return None
        return f"{m.group(0)}{inner[: as_pos]} AS {spark_t})"
    # ClickHouse's comma form: CAST(x, 'Type')
    if len(args) == 2 and re.fullmatch(r"'[^']+'|\"[^\"]+\"", args[1]):
        tname = args[1].strip("'\"")
        spark_t = _spark_type_name(tname) or tname
        return f"{m.group(0)}{args[0]} AS {spark_t})"
    return None


# accurateCastOrDefault first (its name would not collide with the
# 2-arg forms, but the 3rd default argument needs its own shape)
_CAST_RULES = _rules(
    ("accurateCastOrDefault", _accurate_cast_or_default, re.I),
    ("accurateCastOrNull", _partial(_accurate_cast, "accurateCastOrNull"), re.I),
    ("accurateCast", _partial(_accurate_cast, "accurateCast"), re.I),
    (r"(?:TRY_)?CAST", _cast_type, re.I),
)


def _rewrite_ch_casts(sql: str) -> str:
    """Type names in cast positions: ``CAST(x AS Float64)``,
    ``x::Float64`` (Spark 4 parses ``::``, but not ClickHouse type
    names) and ``accurateCast/accurateCastOrNull(x, 'Type')`` →
    CAST/TRY_CAST with the Spark spelling. Only tokens that resolve as
    ClickHouse types are touched, so Spark-native CAST targets pass
    through unchanged."""
    sql = _rewrite_calls(sql, _CAST_RULES)
    # expr::Type — rewrite just the type token (Spark 4 owns the ::)
    return _sub_outside_strings(sql, _COLON_CAST, _colon_cast_type)


_COLON_CAST = re.compile(r"::\s*([A-Za-z][A-Za-z0-9]*)(\s*\()?")


def _colon_cast_type(m):
    sql = m.string
    end = _call_end(sql, m.end() - 1) + 1 if m.group(2) else m.end(1)
    tok = sql[m.start(1): end]
    spark_t = _spark_type_name(tok)
    if spark_t and spark_t.upper() != tok.upper():
        tok = spark_t
    return sql[m.start(): m.start(1)] + tok, end


_TUPLE_VECTOR_OPS = {
    "tuplePlus": "+", "tupleMinus": "-", "tupleMultiply": "*",
    "tupleDivide": "/", "tupleIntDiv": None, "tupleModulo": "%",
}


def _tuple_items(arg: str) -> list[str] | None:
    """Split a literal ``tuple(...)`` argument into its items; None when
    the argument is not a syntactically-evident tuple literal (a column
    reference, subquery, ...) — arity is not knowable from text then."""
    a = arg.strip()
    m = re.match(r"^tuple\s*\(", a)
    start = m.end() if m else 1
    if a[start - 1: start] != "(" or _call_end(a, start - 1) != len(a) - 1:
        return None
    inner = a[start: len(a) - 1]
    if m:
        return _split_top_commas(inner)
    # CH's bare parenthesized tuple literal (a, b[, ...]) — a paren
    # group with a top-level comma can only be a tuple in expression
    # position (batch-80; subqueries excluded)
    if re.match(r"(?is)^\s*SELECT\b", inner):
        return None
    items = _split_top_commas(inner)
    return items if len(items) >= 2 else None


def _untuple(sql, m, close, args):
    # untuple(tuple(a, b)) -> a, b (select-list expansion)
    items = _tuple_items(sql[m.end(): close])
    if items is None:
        raise ValueError(
            "untuple translates only for literal tuple(...) arguments"
            " — select the struct fields directly ((t).col1, (t).col2)"
        )
    return ", ".join(items)


def _tuple_concat(sql, m, close, args):
    parts: list[str] = []
    for a in args:
        items = _tuple_items(a)
        if items is None:
            raise ValueError(
                "tupleConcat translates only for literal tuple(...)"
                " arguments — build the struct directly"
            )
        parts.extend(items)
    return f"tuple({', '.join(parts)})"


def _tuple_pair(args: list[str]):
    if len(args) != 2:
        return None, None
    return _tuple_items(args[0]), _tuple_items(args[1])


def _tuple_vector_op(name, sql, m, close, args):
    ta, tb = _tuple_pair(args)
    if ta is None or tb is None or len(ta) != len(tb):
        raise ValueError(
            f"{name} translates only for equal-arity literal"
            " tuple(...) arguments — spell the element-wise"
            " arithmetic over struct fields instead"
        )
    op = _TUPLE_VECTOR_OPS[name]
    if name == "tupleIntDiv":
        items = [f"CAST(floor(({x}) / ({y})) AS BIGINT)" for x, y in zip(ta, tb)]
    else:
        items = [f"(({x}) {op} ({y}))" for x, y in zip(ta, tb)]
    return f"tuple({', '.join(items)})"


def _tuple_by_number(name, op, sql, m, close, args):
    # tupleMultiplyByNumber/tupleDivideByNumber (batch-80): scale every
    # element by a scalar; the scalar expression is spliced per element
    # (CH usage is literal/column scalars — document if side-effecting)
    ta = _tuple_items(args[0]) if len(args) == 2 else None
    if ta is None:
        raise ValueError(
            f"{name} translates only for a literal tuple(...)"
            " first argument — spell the element-wise"
            " arithmetic over struct fields instead"
        )
    return f"tuple({', '.join(f'(({x}) {op} ({args[1]}))' for x in ta)})"


def _dot_product(sql, m, close, args):
    # dotProduct over two literal tuples (batch-80): CH accepts tuple
    # and array forms; the tuple form folds to the element-wise product
    # sum here, the array form stays on the zip_with SQL alias
    ta, tb = _tuple_pair(args)
    if ta is None or tb is None:
        return None  # array form — the SQL alias owns it
    if len(ta) != len(tb):
        raise ValueError("dotProduct tuple arguments must have equal arity")
    return "(" + " + ".join(f"(({x}) * ({y}))" for x, y in zip(ta, tb)) + ")"


def _tuple_negate(sql, m, close, args):
    items = _tuple_items(sql[m.end(): close])
    if items is None:
        raise ValueError(
            "tupleNegate translates only for literal tuple(...) arguments"
        )
    return f"tuple({', '.join(f'(-({x}))' for x in items)})"


def _tuple_hamming(sql, m, close, args):
    ta, tb = _tuple_pair(args)
    if ta is None or tb is None or len(ta) != len(tb):
        raise ValueError(
            "tupleHammingDistance translates only for equal-arity"
            " literal tuple(...) arguments"
        )
    return "(" + " + ".join(
        f"CAST(({x}) <> ({y}) AS INT)" for x, y in zip(ta, tb)
    ) + ")"


_TUPLE_RULES = _rules(
    ("untuple", _untuple, re.I),
    ("tupleConcat", _tuple_concat, re.I),
    *((name, _partial(_tuple_vector_op, name), re.I)
      for name in _TUPLE_VECTOR_OPS),
    ("tupleMultiplyByNumber",
     _partial(_tuple_by_number, "tupleMultiplyByNumber", "*"), re.I),
    ("tupleDivideByNumber",
     _partial(_tuple_by_number, "tupleDivideByNumber", "/"), re.I),
    ("dotProduct", _dot_product, re.I),
    ("tupleNegate", _tuple_negate, re.I),
    ("tupleHammingDistance", _tuple_hamming, re.I),
)


def _rewrite_tuple_fns(sql: str) -> str:
    """ClickHouse tuple algebra over LITERAL tuples: untuple expansion,
    tupleConcat, element-wise tuplePlus/Minus/Multiply/Divide/IntDiv/
    Modulo/Negate, and tupleHammingDistance.  Arity comes from the
    tuple(...) literal text, so non-literal arguments raise with the
    struct-field spelling to use instead (``(t).col1 + (u).col1``)."""
    return _rewrite_calls(sql, _TUPLE_RULES)


_DATE_UNIT_KW = re.compile(
    r"^(?:SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR)$", re.I
)


def _rewrite_date_unit_forms(sql: str) -> str:
    """ClickHouse date_add/date_sub/timestamp_add/timestamp_sub corner
    forms Spark lacks:

    * ``date_sub(unit, n, x)`` / ``dateSub`` / ``timestamp_sub`` →
      ``timestampadd(unit, -(n), x)`` (Spark's date_sub is days-only;
      its 3-arg unit form exists only for *add*);
    * ``date_add(x, INTERVAL n unit)`` (CH's interval overload, any of
      the four spellings) → ``(x + INTERVAL n unit)`` / ``-`` for sub.

    The native Spark forms (2-arg days, 3-arg unit add) pass through
    untouched."""
    return _rewrite_calls(sql, _DATE_UNIT_RULES)


def _date_unit_form(sign, sql, m, close, args):
    if len(args) == 2 and re.match(r"(?i)^INTERVAL\b", args[1].strip()):
        return f"(({args[0]}) {sign} {args[1].strip()})"
    if len(args) == 3 and _DATE_UNIT_KW.match(args[0].strip()) and sign == "-":
        return f"timestampadd({args[0].strip()}, -({args[1]}), {args[2]})"
    return None  # native Spark form — leave untouched


_DATE_UNIT_RULES = _rules(*(
    (name, _partial(_date_unit_form, sign), re.I if "_" in name else 0)
    for name, sign in (
        ("date_add", "+"), ("dateAdd", "+"),
        ("timestamp_add", "+"), ("timestampAdd", "+"),
        ("date_sub", "-"), ("dateSub", "-"),
        ("timestamp_sub", "-"), ("timestampSub", "-"),
    )
))


def _tuple_struct(sql, m, close, args):
    if not args:
        return "struct()"
    body = ", ".join(f"'col{k + 1}', ({x})" for k, x in enumerate(args))
    return f"named_struct({body})"


# tuple(a, b, ...) -> named_struct with CANONICAL col1..colN field names
# (batch-81; was a bare struct() rename, which names fields after the
# expressions — so positional access `.colN` / tupleElement(t, N) only
# worked for literal elements, not tuple(i, s) over columns). Empty
# tuple() stays struct().
_TUPLE_STRUCT = _rules(("tuple", _tuple_struct, re.I))


def translate(
    sql: str, specs: dict | None = None, params: dict | None = None
) -> Translated:
    """Rewrite a ClickHouse-dialect query to Spark SQL. ``specs`` maps
    table name -> ddl.TableSpec (for SAMPLE BY metadata); ``params``
    fills ``{name:Type}`` clickhouse-client placeholders (typed,
    injection-safe rendering — see substitute_params). Returns the
    Spark SQL plus the requested FORMAT name (if any)."""
    sql = sql.strip()
    if params:
        sql = substitute_params(sql, params)
    else:
        # an unfilled {name:Type} placeholder would otherwise surface
        # as an opaque Spark parse error (batch-71)
        pm = _find_top_anywhere(sql, r"\{\w+\s*:\s*[A-Za-z0-9() ]+\}")
        if pm:
            raise ValueError(
                f"query parameter {pm.group(0)} has no value — pass"
                " params={...} to translate() / Engine.ch_sql"
            )
    sql, fmt = _strip_trailing(sql)
    # strip only GLOBAL — ANY now has its own rewrite below; GLOBAL IN /
    # GLOBAL NOT IN likewise drop the keyword (every Spark IN is global)
    sql = _sub_outside_strings(
        sql,
        re.compile(
            r"\bGLOBAL\s+(?=(ANY|INNER|LEFT|RIGHT|FULL|JOIN|NOT\s+IN|IN)\b)", re.I
        ),
        "",
    )
    sql = _rewrite_system(sql)
    sql = _rewrite_star_modifiers(sql, specs)
    sql = _rewrite_inline_paren_aliases(sql)
    cm = _find_top_anywhere(sql, r"(?i)\bCOLLATE\b")
    if cm:
        raise ValueError(
            "ORDER BY ... COLLATE is not translatable — Spark sorts"
            " binary; drop COLLATE or sort a lower()/normalized key"
        )
    # ClickHouse 3-arg dateDiff('unit', a, b): Spark's 2-arg datediff
    # builtin owns the lowercase name, so the camel spelling maps to the
    # registered chDateDiff SQL function (case-sensitive on purpose).
    sql = _sub_outside_strings(sql, re.compile(r"\bdateDiff\s*\("), "chDateDiff(")
    sql = _rewrite_date_unit_forms(sql)
    # expression-level rewrites scan at every depth already
    sql = _rewrite_ch_casts(sql)
    sql = _rewrite_brackets(sql)
    sql = _rewrite_intervals(sql)
    sql = _rewrite_resample(sql)
    sql = _rewrite_funnel_aggs(sql)
    sql = _rewrite_time_decayed(sql)
    sql = _rewrite_agg_spellings(sql)
    sql = _rewrite_scalar_misc(sql, specs)
    sql = _rewrite_array_hofs(sql)
    sql = _rewrite_scalar_with(sql)
    # tuple algebra (untuple/tupleConcat/tuplePlus/...) resolves over
    # literal tuples BEFORE the rename below erases the tuple( spelling
    sql = _rewrite_tuple_fns(sql)
    sql = _rewrite_calls(sql, _TUPLE_STRUCT)
    # ClickHouse positional tuple access t.1 / tuple(...).1 -> .colN
    # (struct fields from the rename above are col1, col2, ...). Only
    # the close-paren form is rewritten — `x.1` on a bare identifier is
    # ambiguous with decimal literals and qualified names.
    sql = _sub_outside_strings(
        sql, re.compile(r"\)\.(\d+)(?![\d.])"),
        lambda tm: f").col{tm.group(1)}",
    )
    sql = _rewrite_to_start_of_interval(sql)
    sql = _rewrite_tumble(sql)
    # clause-level rewrites apply per nesting level: subqueries first
    # (innermost-out), then this level — so PREWHERE / LIMIT BY / ARRAY
    # JOIN / WITH TOTALS / SAMPLE / FINAL inside a derived table or CTE
    # body translate exactly like the outer query
    sql = _rewrite_clauses_recursive(sql, specs)
    sql = _rewrite_order_by_null_direction(sql)
    return Translated(sql=_collapse_ws_outside_strings(sql), format=fmt)


def _apply_clause_rewrites(sql: str, specs: dict | None) -> str:
    """The clause-level rewrite chain for ONE nesting level (each
    rewriter scans top-level tokens of the string it is given)."""
    sql = _refuse_io_table_functions(sql)
    sql = _rewrite_inline_table_functions(sql)
    sql = _rewrite_numbers(sql)
    sql = _rewrite_sample(sql, specs)
    sql = _rewrite_any_join(sql, specs)
    sql = _rewrite_final(sql)
    sql = _rewrite_prewhere(sql)
    # ClickHouse GROUP BY () (batch-70): one group over everything —
    # the same plan as omitting the clause entirely
    gm = _find_top(sql, r"(?i)\bGROUP\s+BY\s*\(\s*\)")
    if gm:
        sql = sql[: gm.start()] + " " + sql[gm.end():]
    sql = _rewrite_array_join_fn(sql)
    sql = _inline_select_aliases_in_where(sql)
    sql = _rewrite_array_join(sql)
    # before the passes below move WHERE / HAVING into a wrapper's FROM
    sql = _rewrite_condition_heads(sql)
    sql = _rewrite_totals(sql)
    sql = _rewrite_limit_with_ties(sql)
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_limit_by(sql)
    sql = _rewrite_limit_offset(sql)
    sql = _rewrite_with_fill(sql)
    sql = _rewrite_qualify(sql)
    return _rewrite_calls(sql, _RANKING_WINDOWS)


# CH integer truthiness at a condition-clause head (batch-85): WHERE 1 /
# HAVING 0 / WHERE 1 AND ... — Spark's ANSI filter wants BOOLEAN.
# Scoped to a literal int that is the whole condition or its first
# AND/OR operand (general expression truthiness is type-unknowable at
# rewrite time, and an AND-position rewrite would corrupt BETWEEN ...
# AND <n>).
_INT_HEAD = re.compile(r"\s+(\d+)\s*(?=$|\b(?:AND|OR)\b)", re.I)
# Spark's parser rejects WHERE/HAVING (ident) — a lone parenthesized
# identifier parses as an assignment form and dies with
# ASSIGNMENT_ARITY_MISMATCH (verified on 4.1); ClickHouse accepts the
# spelling. The parens unwrap (fuzz_compose, r11).
_PAREN_HEAD = re.compile(r"\s*\(\s*(`?\w+`?)\s*\)\s*(?=$|\b(?:AND|OR)\b)", re.I)


def _rewrite_condition_heads(sql: str) -> str:
    """The two condition-head spellings above, on each WHERE and HAVING
    clause of the level."""
    for name, _, start, body, end in reversed(_clauses(sql)[0]):
        if name != "WHERE" and name != "HAVING":
            continue
        m = _INT_HEAD.match(sql, body, end)
        if m:
            sql = sql[:start] + f"{sql[start:body]} ({m.group(1)} <> 0)" + sql[m.end():]
            continue
        m = _PAREN_HEAD.match(sql, body, end)
        if m:
            cond = m.group(1)
            if cond.isdigit():  # (1) is CH truthiness, same as the bare int
                cond = f"({cond} <> 0)"
            sql = sql[:start] + f"{sql[start:body]} {cond} " + sql[m.end():]
    return sql


def _rewrite_inline_paren_aliases(sql: str) -> str:
    """ClickHouse's inline subexpression alias ``(expr AS name)``
    (batch-81): the parenthesized group binds ``name`` to ``expr`` and
    later references resolve to the expression — e.g.
    ``SELECT (i + 1 AS j) + 1, j * 2 ... WHERE j > 0``. Spark has no
    inline aliasing, so the group rewrites to ``(expr)`` and bare
    identifier references substitute textually as ``(expr)`` — the
    same contract as the scalar WITH substitution. Scoped to paren
    groups in the top-level SELECT segment (before FROM): a
    parenthesized FROM relation like ``(t AS a JOIN u ON ...)`` keeps
    its meaning (its trailing text after AS is not a lone identifier
    anyway), and inline aliases elsewhere keep Spark's parse error.
    References guard like the WHERE-alias inliner: calls ``name(...)``,
    qualified ``t.name``, backticked and string occurrences are left
    alone."""
    while True:
        fm = _find_top(sql, r"(?i)\bFROM\b")
        sel_end = fm.start() if fm else len(sql)
        sidx = _scan_index(sql)
        hit = None
        for i in range(sel_end):
            if sql[i] != "(" or _idx_in_string(sidx, i):
                continue
            close = _call_end(sql, i)
            if close >= sel_end:
                continue
            # a call's argument list is not a bare group — skip when
            # an identifier character precedes the paren
            j = i - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 0 and (sql[j].isalnum() or sql[j] in "_`"):
                prev = re.search(r"(\w+)\s*$", sql[:i])
                # SELECT/DISTINCT/commas/operators may precede a bare
                # group; function names may not
                if prev and prev.group(1).upper() not in (
                    "SELECT", "DISTINCT", "ALL", "AS", "AND", "OR",
                    "NOT", "WHEN", "THEN", "ELSE", "CASE", "BY",
                ):
                    continue
            inner = sql[i + 1: close]
            am = _find_top(inner, r"(?i)\bAS\b")
            if not am:
                continue
            if re.match(r"(?is)^\s*SELECT\b", inner):
                continue
            name = inner[am.end():].strip()
            expr = inner[: am.start()].rstrip()
            if not re.fullmatch(r"[A-Za-z_]\w*", name) or not expr:
                continue
            hit = (i, close, expr, name)
            break
        if not hit:
            return sql
        i, close, expr, name = hit
        sql = sql[:i] + f"({expr})" + sql[close + 1:]
        # substitute bare references everywhere (CH aliases are
        # query-global): not a call, not qualified, not an alias
        # definition site, not inside strings
        sql = _sub_outside_strings(
            sql, _rxc(rf"\b{_esc(name)}\b"),
            lambda m, ref=f"({expr})": None if (
                _CALL_AFTER.match(m.string, m.end())
                or _REF_BEFORE.search(m.string, 0, m.start())
            ) else ref,
        )


_CALL_AFTER = re.compile(r"\s*\(")
_REF_BEFORE = re.compile(r"(?:[.`]|(?i:\bAS))\s*$")


def _unordered_ranking_window(sql, m, close, args):
    """ClickHouse allows ranking window functions over an UNORDERED
    window (``row_number() OVER ()``, ``rank() OVER (PARTITION BY g)``)
    — the numbering order is whatever the engine produces. Spark
    requires an ORDER BY for ranking functions, so an ``ORDER BY 1`` is
    injected (batch-81): ordering by a constant makes every row a peer,
    which satisfies Spark's analyzer while keeping the CH contract
    (ANY order is a valid answer; for rank/dense_rank/percent_rank/
    cume_dist all-peers also matches CH, which ties every row absent
    an ORDER BY). Named windows (``OVER w``) and windows that already
    carry a top-level ORDER BY are left alone."""
    over = _trailing_over(sql, close)
    if over is None:
        return None
    open1, close1 = over
    body = sql[open1 + 1: close1]
    if "ORDER BY" in _clauses(body)[1]:
        return None
    # the order goes before a frame (ROWS/RANGE BETWEEN ...), if any
    fm = _find_top(body, r"\b(?:ROWS|RANGE|GROUPS)\b")
    at = open1 + 1 + fm.start() if fm else close1
    sep = " " if sql[open1 + 1: at].strip() else ""
    return (sql[m.start(): at] + sep + "ORDER BY 1" + (" " if fm else "")
            + sql[at: close1 + 1], close1 + 1)


_RANKING_WINDOWS = _rules(
    (r"(?:row_number|rank|dense_rank|percent_rank|cume_dist|ntile)",
     _unordered_ranking_window, re.I),
)


def _inline_select_aliases_in_where(sql: str) -> str:
    """ClickHouse lets WHERE reference SELECT-list aliases
    (``SELECT x + 1 AS y ... WHERE y > 2``) and resolves the ALIAS in
    preference to a same-named column (prefer_column_name_to_alias = 0,
    the default). Spark resolves WHERE strictly against the input
    columns, so referenced aliases are inlined here as parenthesized
    expressions — matching ClickHouse's preference order. Runs per
    nesting level (after the PREWHERE merge, so PREWHERE conditions get
    the same treatment). Guards: qualified names (``t.y``), calls
    (``y(...)``), backquoted identifiers, string literals, and
    sub-SELECTs inside the WHERE are left alone. Single-pass splice:
    an inlined expression's own tokens are NOT re-scanned, so
    alias-referencing-alias chains stay column-resolved (documented
    corner), and a self-shadowing alias (``x + 1 AS x``) inlines one
    level with the inner ``x`` meaning the column."""
    first = _clauses(sql)[1]
    sm, fm, wm = first.get("SELECT"), first.get("FROM"), first.get("WHERE")
    if not (sm and fm and wm) or sql[: sm[2]].strip():
        return sql
    aliases: dict[str, str] = {}
    for item in _split_top_commas(sql[sm[3]: fm[2]]):
        am = re.match(r"(?s)^\s*(.*\S)\s+AS\s+`?(\w+)`?\s*$", item, re.I)
        if am:
            aliases[am.group(2)] = am.group(1).strip()
    if not aliases:
        return sql
    wstart, wend = wm[3], wm[4]
    wseg = sql[wstart:wend]
    # what the scans below read: wseg with the bodies of its literals
    # and sub-SELECTs blanked (same offsets), so neither is touched
    parts, prev = [], 0
    for a, b in zip(*_scan_index(wseg)[:2]):
        parts += (wseg[prev: a + 1], " " * (b - a - 2))
        prev = b - 1
    parts.append(wseg[prev:])
    masked = _each_level("".join(parts), str, inner=lambda q: " " * len(q))
    # lambda parameters shadow SELECT aliases (SELECT 1.5 AS x ...
    # WHERE arrayExists(x -> x = i, arr) must NOT inline the bound x —
    # fuzz_compose finding, r11). Scope is per-lambda: the parameter
    # name is blocked from its binding to the end of the lambda body
    # (the enclosing call argument), so a same-named alias reference
    # ELSEWHERE in the WHERE still inlines (CH resolves both).
    lam_spans: dict[str, list[tuple[int, int]]] = {}
    for lm in re.finditer(
            r"(\b\w+\s*|\(\s*\w+(?:\s*,\s*\w+)*\s*\)\s*)->", masked):
        body_end = len(wseg)
        d = 0
        for j in range(lm.end(), len(wseg)):
            cj = masked[j]
            if cj == "(":
                d += 1
            elif cj == ")":
                if d == 0:
                    body_end = j
                    break
                d -= 1
            elif cj == "," and d == 0:
                body_end = j
                break
        for p in re.findall(r"\w+", lm.group(1)):
            lam_spans.setdefault(p, []).append((lm.start(), body_end))
    spans: list[tuple[int, int, str]] = []
    for name, expr in aliases.items():
        rx = _rxc(
            rf"(?<![\w.`$]){_esc(name)}(?![\w`])(?!\s*\()"
        )
        for m in rx.finditer(masked):
            if any(s <= m.start() < e
                   for s, e in lam_spans.get(name, ())):
                continue
            spans.append((m.start(), m.end(), f"({expr})"))
    if not spans:
        return sql
    spans.sort()
    out, pos = [], 0
    for s, e, repl in spans:
        if s < pos:
            continue  # overlapping alias names — keep the first
        out.append(wseg[pos:s])
        out.append(repl)
        pos = e
    out.append(wseg[pos:])
    return sql[:wstart] + "".join(out) + sql[wend:]


# frame keywords can only follow ORDER BY inside an OVER(...) spec —
# matching them at depth 0 would eat a sort key ALIASED `rows`/`range`
# (FORMAT/SETTINGS are stripped long before this pass, so they are
# plain identifiers here; fuzz_compose finding, r11)
_ORDER_FRAME_TERMINATORS = re.compile(r"(?i)\b(ROWS|RANGE|GROUPS)\b")


def _rewrite_order_by_null_direction(sql: str) -> str:
    """ClickHouse sorts values first, then NaN, then NULL — i.e.
    NULLS LAST — by default in BOTH directions; Spark's default is
    direction-coupled (ASC = NULLS FIRST). Every ORDER BY key without
    an explicit NULLS directive gets NULLS LAST appended — top-level,
    subquery, and window ``OVER(...)`` ORDER BYs alike. On ASC this
    also aligns NaN exactly (Spark values < NaN < NULL == CH values,
    NaN, NULL). Documented deviation: on DESC Spark places NaN before
    the other values (largest double) where CH keeps NaN just before
    NULL at the tail — NaN-keyed DESC sorts differ; spell
    ``isNaN(x), x DESC`` to pin CH order. Runs once on the final
    translated SQL (after WITH FILL / LIMIT BY / QUALIFY have consumed
    their ORDER BY forms). fuzz_compose finding, r11."""
    pos = 0
    rx = re.compile(r"(?i)\bORDER\s+BY\s+")
    while True:
        idx = _scan_index(sql)
        dpos, dval = idx[2], idx[3]
        m = None
        for cand in rx.finditer(sql, pos):
            if not _idx_in_string(idx, cand.start()):
                m = cand
                break
        if not m:
            return sql
        start = m.end()
        base_depth = _idx_depth(idx, m.start())
        # the key list ends at the enclosing close-paren, or at the next
        # clause of the enclosing level (a query level or an OVER body)
        lo, end = 0, len(sql)
        if base_depth > 0:
            k = _bisect_right(dpos, m.start()) - 1
            while dval[k] != base_depth or sql[dpos[k]] != "(":
                k -= 1
            lo = dpos[k] + 1
            end = idx[4].get(dpos[k], end)
        # no keyword after the keys (most OVER specs): no level to split
        if _CLAUSE_RX.search(sql, start, end):
            level = sql[lo:end]
            for name, _, p, _, e in _clauses(level)[0]:
                if p == m.start() - lo and name == "ORDER BY":
                    end = lo + e
                    break
        if base_depth > 0:
            for tm in _ORDER_FRAME_TERMINATORS.finditer(sql, start, end):
                if (not _idx_in_string(idx, tm.start())
                        and _idx_depth(idx, tm.start()) == base_depth):
                    end = tm.start()
                    break
        seg = sql[start:end]
        keys = _split_top_commas(seg)
        if (not keys
                or not seg.rstrip().rstrip(",") == seg.rstrip()
                or any("WITH FILL" in k.upper() for k in keys)):
            # defensive: a trailing comma means a terminator keyword
            # cut mid-list (an aliased identifier collision) — leave
            # this ORDER BY untouched rather than corrupt it
            pos = end
            continue
        new_keys = []
        for k in keys:
            body = k.strip()
            if not body:
                new_keys.append(k)
            elif re.search(r"(?i)\bNULLS\s+(FIRST|LAST)\s*$", body):
                new_keys.append(body)
            else:
                new_keys.append(body + " NULLS LAST")
        new_seg = ", ".join(new_keys) + " "
        sql = sql[:start] + new_seg + sql[end:]
        pos = start + len(new_seg)


def _rewrite_qualify(sql: str) -> str:
    """ClickHouse ``QUALIFY <cond>`` (filter on window results) → a
    wrapper subquery: the condition is computed as an extra select-list
    column, filtered in the outer query, and dropped with
    ``* EXCEPT``. Runs LAST in the clause chain so the head it wraps is
    already fully rewritten at this nesting level."""
    first = _clauses(sql)[1]
    q = first.get("QUALIFY")
    if not q:
        return sql
    cond = sql[q[3]: q[4]].strip()
    tail = " " + sql[q[4]:] if q[4] < len(sql) else ""
    head = sql[: q[2]].rstrip()
    if re.match(r"(?is)^\s*SELECT\s+DISTINCT\b", head):
        raise ValueError(
            "QUALIFY with SELECT DISTINCT is not translatable — apply"
            " the window filter in a subquery first"
        )
    fm = first.get("FROM")
    if not fm:
        raise ValueError("QUALIFY requires a FROM clause")
    fm = fm[2]
    head2 = (
        head[:fm].rstrip() + f", ({cond}) AS __ch_qualify " + head[fm:]
    )
    return (
        f"SELECT * EXCEPT (__ch_qualify) FROM ({head2})"
        f" WHERE __ch_qualify{tail}"
    )


def _rewrite_clauses_recursive(sql: str, specs: dict | None) -> str:
    """The clause rewrites at every nesting level (_each_level). A
    level's UNION / EXCEPT / INTERSECT branches are separate SELECTs:
    the clause chain runs per branch (the last branch keeps the
    operation's trailing ORDER BY / LIMIT, which is where they bind
    anyway)."""
    return _each_level(sql, _partial(_rewrite_level_clauses, specs=specs))


def _rewrite_level_clauses(sql: str, specs: dict | None) -> str:
    out, pos = [], 0
    for _, rank, start, body, _ in _clauses(sql)[0]:
        if rank < 0:
            out.append(_apply_clause_rewrites(sql[pos:start], specs))
            out.append(sql[start:body])
            pos = body
    if not out:
        return _apply_clause_rewrites(sql, specs)
    out.append(_apply_clause_rewrites(sql[pos:], specs))
    return " ".join(out)
