"""ClickHouse DDL → Spark table translation (EP3 provisioning parity).

The reference provisions its nine event tables with plain ClickHouse
migrations (``/root/reference/migrations/002..011_*.up.sql``), all of the
shape::

    CREATE TABLE IF NOT EXISTS login_events (
        event_id String, ... timestamp DateTime, ... season_number Int32
    ) ENGINE = MergeTree()
    ORDER BY (timestamp, event_name);

A user switching to this engine should be able to point their existing
migrations directory at us and get the same tables.  This module parses
that DDL dialect (plus the common extensions a real ClickHouse deployment
uses: Nullable/LowCardinality wrappers, Array/Map/Tuple, Enum, Decimal,
DateTime64, PARTITION BY, Replacing/SummingMergeTree) and maps it onto
the engine's Spark-native equivalents:

  * column types   -> Spark ``StructType`` (see ``ch_type_to_spark``);
  * ORDER BY       -> ``sortWithinPartitions`` write policy (tight parquet
                      row-group min/max stats ≙ the sparse primary index;
                      ``append_rows`` is the one write path, for declared
                      tables and streamed event families alike);
  * PARTITION BY   -> a derived partition directory column
                      (``toYYYYMM(ts)`` ≙ month dirs, ``toDate(ts)`` ≙ day
                      dirs) -> partition pruning ≙ partition elimination;
  * ENGINE merge semantics -> a *read-time* view (``final_read``):
      - MergeTree                  -> identity (append-only facts);
      - ReplacingMergeTree(ver)    -> latest row per ORDER BY key
                                      (≙ ``SELECT ... FINAL``);
      - SummingMergeTree(cols)     -> numeric columns summed per key;
      - CollapsingMergeTree(sign)  -> +1/-1 state/cancel pairs cancel
                                      out; net-positive keys keep their
                                      latest state row;
      - VersionedCollapsingMergeTree(sign, ver)
                                   -> pairs cancel per (key, version);
                                      uncancelled versions survive.

    ClickHouse itself only guarantees these semantics *eventually* (or
    under FINAL); materializing them at read time over an append-only log
    is the exact same contract, expressed as a deterministic view.  At
    100 TB the FINAL view is one shuffle on the ORDER BY key — the same
    shuffle ClickHouse pays in a FINAL read — and the append path stays
    shuffle-free.

Scale note: parsing happens on the driver once per DDL (bytes of SQL);
everything data-sized stays declarative DataFrame ops.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type mapping
# ---------------------------------------------------------------------------

_SIMPLE_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "uuid": T.StringType(),
    "ipv4": T.StringType(),
    "ipv6": T.StringType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "int128": T.DecimalType(38, 0),
    "int256": T.DecimalType(38, 0),
    # unsigned widths widen to the next signed Spark type; UInt64 keeps
    # LongType (documented narrowing — Spark has no unsigned 64-bit).
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "uint128": T.DecimalType(38, 0),
    "uint256": T.DecimalType(38, 0),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "date": T.DateType(),
    "date32": T.DateType(),
    "datetime": T.TimestampType(),
}

_DECIMAL_SCALED = {"decimal32": 9, "decimal64": 18, "decimal128": 38, "decimal256": 38}


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/bracket depth 0, outside quotes.

    The quoting rule is chsql._scan_index's: ``'``, ``"`` and backtick
    all quote, and inside a quote a backslash escapes the next
    character (``'it\\'s, ok'`` is one literal)."""
    parts, depth, start, quote, esc = [], 0, 0, None, False
    for i, ch in enumerate(s):
        if quote:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == quote:
                quote = None
        elif ch in "'\"`":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        parts.append(tail)
    return parts


def ch_type_to_spark(ch: str) -> tuple[T.DataType, bool]:
    """Map one ClickHouse type spelling to ``(spark_type, nullable)``.

    ClickHouse columns are non-nullable unless wrapped in ``Nullable``;
    we record that bit (Spark enforces it loosely, but the schema carries
    the intent and parquet stores it).
    """
    s = ch.strip()
    low = s.lower()
    m = re.match(r"^(nullable|lowcardinality)\s*\((.*)\)$", low, re.S)
    if m:
        inner, nullable = ch_type_to_spark(s[s.index("(") + 1 : s.rindex(")")])
        return inner, nullable or m.group(1) == "nullable"
    m = re.match(r"^array\s*\((.*)\)$", low, re.S)
    if m:
        inner, inner_null = ch_type_to_spark(s[s.index("(") + 1 : s.rindex(")")])
        return T.ArrayType(inner, containsNull=inner_null), False
    m = re.match(r"^map\s*\((.*)\)$", low, re.S)
    if m:
        k, v = _split_top(s[s.index("(") + 1 : s.rindex(")")])
        kt, _ = ch_type_to_spark(k)
        vt, vn = ch_type_to_spark(v)
        return T.MapType(kt, vt, valueContainsNull=vn), False
    m = re.match(r"^tuple\s*\((.*)\)$", low, re.S)
    if m:
        fields = []
        for i, part in enumerate(_split_top(s[s.index("(") + 1 : s.rindex(")")])):
            # named field ("name Type") or positional ("Type")
            nm = re.match(r"^(\w+)\s+(.+)$", part.strip(), re.S)
            if nm and not re.match(
                r"^(nullable|lowcardinality|array|map|tuple|fixedstring|decimal|datetime|enum)",
                nm.group(1).lower(),
            ):
                ft, fn = ch_type_to_spark(nm.group(2))
                fields.append(T.StructField(nm.group(1), ft, fn))
            else:
                ft, fn = ch_type_to_spark(part)
                fields.append(T.StructField(f"_{i + 1}", ft, fn))
        return T.StructType(fields), False
    m = re.match(r"^fixedstring\s*\(\s*\d+\s*\)$", low)
    if m:
        return T.StringType(), False
    m = re.match(r"^enum(8|16)?\s*\(", low)
    if m:
        return T.StringType(), False  # enums read back as their labels
    m = re.match(r"^datetime64\s*\(", low)
    if m:
        return T.TimestampType(), False
    m = re.match(r"^datetime\s*\(", low)  # DateTime('tz')
    if m:
        return T.TimestampType(), False
    m = re.match(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", low)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2))), False
    m = re.match(r"^(decimal32|decimal64|decimal128|decimal256)\s*\(\s*(\d+)\s*\)$", low)
    if m:
        return T.DecimalType(_DECIMAL_SCALED[m.group(1)], int(m.group(2))), False
    if low in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[low], False
    if low in ("json", "object('json')"):
        # the JSON column type stores raw text here; the engine's JSON
        # function family (JSONExtract*/JSONHas/variant typing) parses
        # on read, exactly as it does for String-typed JSON columns
        return T.StringType(), True
    if low.startswith("simpleaggregatefunction"):
        # SimpleAggregateFunction(f, T) stores the plain value of T —
        # the type IS the inner type (merge semantics live in
        # final_read's AggregatingMergeTree branch)
        inner = ch[ch.index("(") + 1: ch.rindex(")")]
        args = _split_top(inner)
        if len(args) != 2:
            raise ValueError(
                f"unsupported ClickHouse type: {ch!r} —"
                " SimpleAggregateFunction takes (fname, Type)"
            )
        return ch_type_to_spark(args[1].strip())
    if low.startswith("aggregatefunction"):
        # AggregateFunction(f, T...) columns store this engine's own
        # -State representations (chsql batch 35): uniq states are HLL
        # sketches (BINARY), avg states (s, c) structs, argMax/argMin
        # (v, k) structs, uniqExact/groupArray exact arrays, the
        # simple-value states their base aggregate's type
        inner = ch[ch.index("(") + 1: ch.rindex(")")]
        args = [a.strip() for a in _split_top(inner) if a.strip()]
        fl = args[0].split("(")[0].strip().lower()

        def _arg_t(i: int, default: T.DataType = T.StringType()):
            if len(args) > i:
                return ch_type_to_spark(args[i])[0]
            return default

        if fl in ("uniq", "uniqcombined", "uniqcombined64",
                  "uniqhll12", "uniqtheta"):
            return T.BinaryType(), True
        if fl in ("uniqexact", "groupuniqarray", "grouparray"):
            return T.ArrayType(_arg_t(1)), True
        if fl == "count":
            return T.LongType(), True
        if fl == "sum":
            it = _arg_t(1, T.DoubleType())
            if isinstance(it, (T.ByteType, T.ShortType,
                               T.IntegerType, T.LongType)):
                return T.LongType(), True
            if isinstance(it, T.DecimalType):
                return T.DecimalType(38, it.scale), True
            return T.DoubleType(), True
        if fl in ("min", "max", "any", "anylast"):
            return _arg_t(1), True
        if fl == "avg":
            return T.StructType([
                T.StructField("s", T.DoubleType()),
                T.StructField("c", T.LongType()),
            ]), True
        if fl in ("argmax", "argmin"):
            return T.StructType([
                T.StructField("v", _arg_t(1)),
                T.StructField("k", _arg_t(2)),
            ]), True
        raise ValueError(
            f"unsupported ClickHouse type: {ch!r} — this engine's"
            " mergeable states cover uniq*/uniqExact/sum/count/min/"
            "max/any/anyLast/avg/argMax/argMin/groupArray/"
            "groupUniqArray; quantile states are served by the"
            " materialized-view path (streaming/matview.py)"
        )
    if low.startswith("nested"):
        raise ValueError(
            f"unsupported ClickHouse type: {ch!r} — declare the parallel"
            " arrays explicitly (k Array(String), v Array(UInt32)) and"
            " query them with ARRAY JOIN"
        )
    raise ValueError(f"unsupported ClickHouse type: {ch!r}")


# ---------------------------------------------------------------------------
# DDL parsing
# ---------------------------------------------------------------------------


@dataclass
class ProjectionSpec:
    """Parsed ``PROJECTION name (SELECT ...)`` clause.

    Aggregate form (``GROUP BY`` present): maintained as mergeable
    PARTIAL aggregates appended per insert batch (sum/count partials sum
    on merge, min/max partials min/max) — the Spark translation of
    ClickHouse's per-part aggregate states.  Sort form (``ORDER BY``):
    maintained as a column-pruned re-sorted copy, the alternate
    physical order."""

    name: str
    dims: list[str] = field(default_factory=list)  # GROUP BY / plain columns
    # (func, source_col, alias) with func in sum|count|min|max|avg
    aggs: list[tuple[str, str, str]] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)  # sort-projection order

    @property
    def is_aggregate(self) -> bool:
        return bool(self.aggs)

    def partial_cols(self) -> list[tuple[str, str]]:
        """(partial column name, merge func) pairs for aggregate form.
        avg is stored as its sum+count partials."""
        out = []
        for func, col, alias in self.aggs:
            if func == "count":
                out.append((f"__cnt_{alias}", "sum"))
            elif func == "avg":
                out.append((f"__sum_{alias}", "sum"))
                out.append((f"__cnt_{alias}", "sum"))
            else:
                out.append((f"__{func}_{alias}", func))
        return out


_PROJ_ITEM = re.compile(
    r"^(sum|count|min|max|avg)\s*\(\s*(\*|[\w`]*)\s*\)(?:\s+AS\s+(\w+))?$", re.I
)


def _parse_projection(clause: str) -> ProjectionSpec:
    """Parse ``PROJECTION name (SELECT items [GROUP BY d, ...]
    [ORDER BY c, ...])``."""
    m = re.match(r"^PROJECTION\s+`?(\w+)`?\s*\((.*)\)\s*$", clause.strip(), re.I | re.S)
    if not m:
        raise ValueError(f"cannot parse projection clause: {clause!r}")
    name, body = m.group(1), m.group(2).strip()
    bm = re.match(
        r"^SELECT\s+(.*?)(?:\s+GROUP\s+BY\s+(.*?))?(?:\s+ORDER\s+BY\s+(.*?))?$",
        body,
        re.I | re.S,
    )
    if not bm:
        raise ValueError(f"cannot parse projection body: {body!r}")
    items, group_by, order_by = bm.group(1), bm.group(2), bm.group(3)
    dims: list[str] = []
    aggs: list[tuple[str, str, str]] = []
    for item in _split_top(items):
        item = item.strip()
        am = _PROJ_ITEM.match(item)
        if am:
            func = am.group(1).lower()
            col = am.group(2).strip("`")
            alias = am.group(3) or (func if col in ("", "*") else f"{func}_{col}")
            if func == "count":
                col = ""
            elif col in ("", "*"):
                raise ValueError(f"{func}() needs a column in projection: {item!r}")
            aggs.append((func, col, alias))
        else:
            dims.append(item.strip("`"))
    if group_by:
        gdims = [c.strip().strip("`") for c in _split_top(group_by) if c.strip()]
        # GROUP BY names must be the non-aggregate select items
        if set(gdims) != set(dims):
            raise ValueError(
                f"projection {name!r}: GROUP BY {gdims} != plain select items {dims}"
            )
        dims = gdims
    elif aggs:
        raise ValueError(f"projection {name!r}: aggregates need GROUP BY")
    return ProjectionSpec(
        name=name,
        dims=dims,
        aggs=aggs,
        order_by=[c.strip().strip("`") for c in _split_top(order_by)] if order_by else [],
    )


@dataclass
class TableSpec:
    """Parsed ClickHouse CREATE TABLE, mapped to Spark terms."""

    name: str
    schema: T.StructType
    engine: str  # MergeTree | Replacing- | Summing- | [Versioned]Collapsing-
    engine_args: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    partition_by: str | None = None  # raw ClickHouse expression
    primary_key: list[str] = field(default_factory=list)
    ch_types: dict[str, str] = field(default_factory=dict)
    ttl: tuple[str, int, str] | None = None  # (column, n, unit) from TTL col + INTERVAL n unit
    sample_by: str | None = None  # SAMPLE BY expression (a column or intHash on one)
    bloom_cols: list[str] = field(default_factory=list)  # INDEX ... TYPE bloom_filter columns
    projections: list[ProjectionSpec] = field(default_factory=list)
    # col -> (DEFAULT|MATERIALIZED|ALIAS, ClickHouse expression). DEFAULT
    # fills omitted/NULL values at insert, MATERIALIZED is always computed
    # at insert, ALIAS is computed at read and never stored.
    col_exprs: dict[str, tuple[str, str]] = field(default_factory=dict)
    alias_cols: list[str] = field(default_factory=list)  # ALIAS column names
    settings: dict[str, str] = field(default_factory=dict)  # SETTINGS k = v
    # ALTER ... RENAME COLUMN history: current name -> ALL legacy stored
    # spellings, oldest first (files written before each rename carry
    # one of them; the served view coalesces every spelling). A single
    # original name is insufficient: rename -> insert -> rename leaves
    # files on disk under the INTERMEDIATE spelling too (r6 property
    # test found the vintage loss).
    renames: dict[str, list[str]] = field(default_factory=dict)

    @property
    def key_cols(self) -> list[str]:
        """The merge key: PRIMARY KEY if given, else ORDER BY."""
        return self.primary_key or self.order_by

    def partition_column(self) -> tuple[str, str] | None:
        """Translate PARTITION BY into ``(dir_column_name, sql_expr)``.

        Returned as a SQL string (evaluate with ``F.expr``) so parsing
        needs no live SparkSession.  Supported shapes (the ones real
        deployments use):
          toYYYYMM(col)   -> yyyyMM int       (month directories)
          toDate(col)     -> date             (day directories)
          toYear(col)     -> year int
          bare column     -> the column itself
        """
        if not self.partition_by:
            return None
        expr = self.partition_by.strip()
        m = re.match(r"^toYYYYMM\s*\(\s*(\w+)\s*\)$", expr, re.I)
        if m:
            return "p_month", f"CAST(date_format({m.group(1)}, 'yyyyMM') AS INT)"
        m = re.match(r"^toDate\s*\(\s*(\w+)\s*\)$", expr, re.I)
        if m:
            return "p_date", f"to_date({m.group(1)})"
        m = re.match(r"^toYear\s*\(\s*(\w+)\s*\)$", expr, re.I)
        if m:
            return "p_year", f"year({m.group(1)})"
        m = re.match(r"^\w+$", expr)
        if m:
            return expr, expr
        raise ValueError(f"unsupported PARTITION BY expression: {expr!r}")


_COL_ATTR = re.compile(
    r"\s+(DEFAULT|MATERIALIZED|ALIAS|CODEC|COMMENT|TTL)\b.*$", re.I | re.S
)


def parse_clickhouse_ddl(sql: str) -> TableSpec:
    """Parse one ClickHouse ``CREATE TABLE`` statement.

    Covers the reference migration dialect
    (migrations/002_create_login_events_table.up.sql:1-19 et al.) plus
    PARTITION BY / PRIMARY KEY / Replacing- and SummingMergeTree and
    per-column DEFAULT/CODEC/COMMENT attributes (ignored — Spark carries
    no column defaults; ingestion fills them).
    """
    s = re.sub(r"--[^\n]*", "", sql)  # strip line comments
    s = re.sub(r"/\*.*?\*/", "", s, flags=re.S)
    m = re.search(
        r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(", s, re.I
    )
    if not m:
        raise ValueError("not a CREATE TABLE statement")
    name = m.group(1).split(".")[-1]
    # find the matching close paren of the column list
    start = m.end() - 1
    depth, i = 0, start
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    if depth != 0:
        raise ValueError("unbalanced parens in column list")
    col_block, tail = s[start + 1 : i], s[i + 1 :]

    fields, ch_types = [], {}
    bloom_cols: list[str] = []
    projections: list[ProjectionSpec] = []
    col_exprs: dict[str, tuple[str, str]] = {}
    alias_fields: list[tuple[str, T.DataType]] = []
    for part in _split_top(col_block):
        part = part.strip()
        im = re.match(
            r"^INDEX\s+\w+\s+`?(\w+)`?\s+TYPE\s+(bloom_filter)\b",
            part,
            re.I,
        )
        if im:
            # ClickHouse whole-value bloom_filter index -> parquet bloom
            # filter on that column (written by append_rows; parquet
            # readers prune row groups on point predicates). minmax needs
            # no mapping — parquet column stats ARE a minmax index.
            # tokenbf_v1/ngrambf_v1 accelerate hasToken/LIKE probes that
            # a whole-value bloom cannot answer — parsed and skipped, not
            # silently approximated.
            bloom_cols.append(im.group(1))
            continue
        if re.match(r"^PROJECTION\b", part, re.I):
            projections.append(_parse_projection(part))
            continue
        if not part or re.match(r"^(INDEX|CONSTRAINT)\b", part, re.I):
            continue  # other secondary indexes: parquet stats + pruning play that role
        cm = re.match(r"^`?(\w+)`?\s+(.+)$", part, re.S)
        if not cm:
            raise ValueError(f"cannot parse column definition: {part!r}")
        rest = cm.group(2)
        am = re.search(
            r"\s+(DEFAULT|MATERIALIZED|ALIAS)\s+(.+?)(?:\s+(?:CODEC|COMMENT|TTL)\b.*)?$",
            rest,
            re.I | re.S,
        )
        if am:
            col_exprs[cm.group(1)] = (am.group(1).upper(), am.group(2).strip())
        cname, ctype = cm.group(1), _COL_ATTR.sub("", rest).strip()
        if not ctype and am:
            # bare `col DEFAULT/ALIAS expr` (type inferred in CH) — serve
            # as String unless the expr is resolved at read/insert time
            ctype = "String"
        dt, nullable = ch_type_to_spark(ctype)
        if cname in col_exprs and col_exprs[cname][0] == "ALIAS":
            ch_types[cname] = ctype
            alias_fields.append((cname, dt))
            continue  # ALIAS columns are never stored (read-time only)
        fields.append(T.StructField(cname, dt, nullable))
        ch_types[cname] = ctype
    schema = T.StructType(fields)

    em = re.search(r"ENGINE\s*=\s*(\w+)", tail, re.I)
    engine = em.group(1) if em else "MergeTree"
    engine_args: list[str] = []
    if em:
        # balanced-paren arg scan (SummingMergeTree((hits, amount)) nests)
        j = em.end()
        while j < len(tail) and tail[j].isspace():
            j += 1
        if j < len(tail) and tail[j] == "(":
            depth = 0
            for k in range(j, len(tail)):
                if tail[k] == "(":
                    depth += 1
                elif tail[k] == ")":
                    depth -= 1
                    if depth == 0:
                        inner = tail[j + 1 : k].strip()
                        if inner.startswith("(") and inner.endswith(")"):
                            inner = inner[1:-1]  # tuple-wrapped arg list
                        engine_args = [
                            a.strip().strip("`")
                            for a in _split_top(inner)
                            if a.strip()
                        ]
                        break

    def _clause(kw: str) -> str | None:
        cm = re.search(
            kw + r"\s+(\([^)]*\)|[^\s;]+(?:\s*\([^)]*\))?)",
            tail,
            re.I,
        )
        return cm.group(1).strip() if cm else None

    def _cols(clause: str | None) -> list[str]:
        if not clause:
            return []
        inner = clause[1:-1] if clause.startswith("(") else clause
        return [c.strip().strip("`") for c in _split_top(inner) if c.strip()]

    ttl = None
    tm = re.search(
        r"\bTTL\s+(\w+)\s*\+\s*(?:INTERVAL\s+)?(\d+)\s*(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|YEAR)S?\b",
        tail,
        re.I,
    )
    if tm:
        ttl = (tm.group(1), int(tm.group(2)), tm.group(3).upper())

    sb = _clause(r"SAMPLE\s+BY")
    if sb and sb.startswith("(") and sb.endswith(")"):
        sb = sb[1:-1].strip()

    order_by = _cols(_clause(r"ORDER\s+BY"))
    primary_key = _cols(_clause(r"PRIMARY\s+KEY"))
    pb = _clause(r"PARTITION\s+BY")
    if pb and pb.startswith("(") and pb.endswith(")") and "," not in pb:
        pb = pb[1:-1].strip()

    settings: dict[str, str] = {}
    sm = re.search(r"\bSETTINGS\s+(.*)$", tail, re.I | re.S)
    if sm:
        for part in _split_top(sm.group(1)):
            kv = re.match(r"^\s*(\w+)\s*=\s*(?:'([^']*)'|([^\s,;]+))\s*$", part)
            if kv:
                settings[kv.group(1)] = kv.group(2) if kv.group(2) is not None else kv.group(3)
    return TableSpec(
        name=name,
        schema=schema,
        engine=engine,
        engine_args=engine_args,
        order_by=[c for c in order_by if c.lower() != "tuple()"],
        partition_by=pb,
        primary_key=primary_key,
        ch_types=ch_types,
        ttl=ttl,
        sample_by=sb,
        bloom_cols=bloom_cols,
        projections=projections,
        col_exprs=col_exprs,
        alias_cols=[n for n, _dt in alias_fields],
        settings=settings,
    )


# ---------------------------------------------------------------------------
# provisioning + write/read policy
# ---------------------------------------------------------------------------


def provision_table(spark: SparkSession, spec: TableSpec, warehouse: str) -> str:
    """Idempotently create ``warehouse/<name>`` with the translated schema
    (empty parquet — ≙ ``CREATE TABLE IF NOT EXISTS``) and register the
    merge-semantics view.  Returns the table path."""
    path = os.path.join(warehouse, spec.name)
    if not os.path.exists(path):
        empty = spark.createDataFrame([], spec.schema)
        pc = spec.partition_column()
        if pc:
            empty = empty.withColumn(pc[0], F.expr(pc[1]))
            empty.write.mode("overwrite").partitionBy(pc[0]).parquet(path)
        else:
            empty.write.mode("overwrite").parquet(path)
    for proj in spec.projections:
        ppath = projection_path(warehouse, spec.name, proj.name)
        if not os.path.exists(ppath):
            projection_batch(
                spark.createDataFrame([], spec.schema), proj
            ).write.mode("overwrite").parquet(ppath)
    register_view(spark, spec, warehouse)
    return path


def write_order(
    df: DataFrame, order: list[str], partition_cols: list[str] = ()
) -> DataFrame:
    """Sort each task's rows for a write: the partition columns first,
    then ``order``. The prefix matters: the dynamic-partition writer
    demands partition-column ordering and inserts its own NON-STABLE
    sort when it is missing, which scrambles ``order`` inside every
    file (measured: 64/64 files out of order). Within a file all rows
    share the partition values, so the prefix leaves the per-file order
    exactly ``order`` — tight row-group min/max stats, the sparse
    primary index of a MergeTree ORDER BY."""
    lead = list(partition_cols)
    return df.sortWithinPartitions(*lead, *[c for c in order if c not in lead])


def append_rows(df: DataFrame, spec: TableSpec, warehouse: str) -> DataFrame:
    """Append a batch under the spec's MergeTree-equivalent write policy:
    derived partition directories + ORDER BY sort within partitions
    (:func:`write_order`). Every table write goes through here — ch_sql
    INSERTs, materialized-view targets and the streaming ingest of the
    event families. Returns the transformed batch (DEFAULT/MATERIALIZED
    applied) so callers can fire MV triggers on exactly what was
    written — note the returned frame is lazy, so re-evaluating it costs
    one more job over the INPUT (never the table)."""
    pc = spec.partition_column()
    out = df
    # DEFAULT fills omitted/NULL values, MATERIALIZED always computes —
    # at insert time, like ClickHouse (exprs resolve against the batch
    # with the registered ClickHouse spellings; ALIAS is read-time only).
    for cname, (kind, expr) in spec.col_exprs.items():
        f = next((f for f in spec.schema.fields if f.name == cname), None)
        if f is None:
            continue
        computed = F.expr(expr).cast(f.dataType)
        if kind == "MATERIALIZED":
            out = out.withColumn(cname, computed)
        elif kind == "DEFAULT":
            if cname in out.columns:
                out = out.withColumn(cname, F.coalesce(F.col(cname), computed))
            else:
                out = out.withColumn(cname, computed)
    if set(out.columns) >= {f.name for f in spec.schema.fields}:
        out = out.select(*[f.name for f in spec.schema.fields])
    writer_cols = spec.order_by or spec.key_cols
    if pc:
        out = out.withColumn(pc[0], F.expr(pc[1]))
    if writer_cols:
        out = write_order(out, writer_cols, [pc[0]] if pc else [])
    w = out.write.mode("append")
    for c in spec.bloom_cols:
        # ClickHouse INDEX ... TYPE bloom_filter -> parquet bloom filter
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if pc:
        w = w.partitionBy(pc[0])
    w.parquet(os.path.join(warehouse, spec.name))
    # ClickHouse computes projections per inserted part; the equivalent
    # here is appending each projection's transformed batch alongside.
    for proj in spec.projections:
        projection_batch(df, proj).write.mode("append").parquet(
            projection_path(warehouse, spec.name, proj.name)
        )
    return out


def projection_path(warehouse: str, table: str, proj: str) -> str:
    return os.path.join(warehouse, f"{table}__proj_{proj}")


def projection_batch(df: DataFrame, proj: ProjectionSpec) -> DataFrame:
    """Transform one insert batch into the projection's appendable form.

    Aggregate projections append PARTIAL aggregates per batch (map-side
    combinable, one small groupBy on the batch) — sum/count partials
    re-sum on merge, min/max partials re-min/max, avg is stored as its
    sum+count pair.  Sort projections append the column-pruned batch in
    the alternate order."""
    if proj.is_aggregate:
        aggs = []
        for func, col, alias in proj.aggs:
            if func == "count":
                aggs.append(F.count(F.lit(1)).alias(f"__cnt_{alias}"))
            elif func == "avg":
                aggs.append(F.sum(col).alias(f"__sum_{alias}"))
                aggs.append(F.count(col).alias(f"__cnt_{alias}"))
            else:
                aggs.append(getattr(F, func)(col).alias(f"__{func}_{alias}"))
        return df.groupBy(*proj.dims).agg(*aggs)
    out = df.select(*proj.dims)
    if proj.order_by:
        out = write_order(out, proj.order_by)
    return out


def projection_read(
    spark: SparkSession, spec: TableSpec, proj: ProjectionSpec, warehouse: str
) -> DataFrame:
    """Merged (user-facing) read of a projection: partial states combined
    to final values under the canonical aliases.  One shuffle over the
    projection table — which holds one row per (insert batch, dims), far
    smaller than the fact table it summarizes."""
    raw = spark.read.parquet(projection_path(warehouse, spec.name, proj.name))
    if not proj.is_aggregate:
        return raw
    aggs = []
    for func, col, alias in proj.aggs:
        if func == "count":
            aggs.append(F.sum(f"__cnt_{alias}").alias(alias))
        elif func == "avg":
            aggs.append(
                (F.sum(f"__sum_{alias}") / F.sum(f"__cnt_{alias}")).alias(alias)
            )
        elif func == "sum":
            aggs.append(F.sum(f"__sum_{alias}").alias(alias))
        else:
            aggs.append(getattr(F, func)(f"__{func}_{alias}").alias(alias))
    return raw.groupBy(*proj.dims).agg(*aggs)


def final_read(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Apply the engine's merge semantics at read time (≙ ``FINAL``).

    MergeTree: identity.  ReplacingMergeTree(ver): keep the latest row
    per ORDER BY key — by the version column if given, else by insertion
    order proxy (last non-deterministic in CH too, so we require ver or
    use the max over all columns deterministically).  SummingMergeTree:
    sum numeric non-key columns per key, keep any-value of the rest.
    CollapsingMergeTree(sign): +1/-1 pairs cancel, net-positive keys keep
    their latest state row.  VersionedCollapsingMergeTree(sign, ver):
    pairs cancel per (key, version); uncancelled versions survive.
    """
    eng = spec.engine.lower()
    if eng in ("mergetree", "memory", "log", "tinylog", "stripelog"):
        # append-only engines: identity read, no merge semantics (the
        # keyless engines legitimately have no ORDER BY)
        return df
    if eng == "null":
        # the Null engine discards: reads are empty. Inserts still fire
        # attached materialized views (ClickHouse's classic
        # MV-over-Null ingestion pattern) because MV triggers run on
        # the INSERTED batch, never on the table.
        return df.limit(0)
    infra = {
        "kafka": "Engine.ingest_kafka (streaming/pipeline.py) — the"
                 " streaming source is a pipeline here, not a table",
        "rabbitmq": "streaming/pipeline.py sources",
        "nats": "sources/nats.py + Engine.ingest",
        "distributed": "the local table directly — Spark IS the"
                       " distribution layer (tasks fan out per"
                       " partition)",
        "buffer": "the micro-batcher (streaming/pipeline.py"
                  " rows/bytes/time triggers play Buffer's role)",
        "join": "a broadcast join (operators/joins.py) or CREATE"
                " DICTIONARY over the key table",
        "dictionary": "CREATE DICTIONARY (operators/dictionary.py)",
        "url": "sources/io.py / spark.read",
        "file": "sources/io.py / spark.read",
        "s3": "sources/io.py / spark.read",
        "merge": "a UNION ALL view over the member tables",
    }
    if eng in infra:
        raise ValueError(
            f"the {spec.engine} table engine is infrastructure, not"
            f" storage, in this architecture — use {infra[eng]}"
        )
    keys = spec.key_cols
    if not keys:
        raise ValueError(f"{spec.engine} requires an ORDER BY key")
    if eng == "aggregatingmergetree":
        # FINAL merges each part's states per key; the columns stay
        # STATES (read values with the -Merge spellings, exactly like
        # ClickHouse). The merge-state agg per column comes from its
        # declared AggregateFunction/SimpleAggregateFunction type.
        aggs = []
        for f in df.schema.fields:
            if f.name in keys:
                continue
            cht = (spec.ch_types or {}).get(f.name, "")
            m = re.match(
                r"^\s*(Simple)?AggregateFunction\s*\(\s*(\w+)", cht, re.I
            )
            fl = m.group(2).lower() if m else None
            c = f"`{f.name}`"
            if fl in ("uniq", "uniqcombined", "uniqcombined64",
                      "uniqhll12", "uniqtheta"):
                e = F.expr(f"hll_union_agg({c})")
            elif fl in ("uniqexact", "groupuniqarray"):
                e = F.expr(f"array_distinct(flatten(collect_list({c})))")
            elif fl == "grouparray":
                e = F.expr(f"flatten(collect_list({c}))")
            elif fl in ("sum", "count", "sumwithoverflow"):
                e = F.sum(f.name)
            elif fl == "min":
                e = F.min(f.name)
            elif fl == "max":
                e = F.max(f.name)
            elif fl == "any":
                e = F.first(f.name, ignorenulls=True)
            elif fl == "anylast":
                e = F.last(f.name, ignorenulls=True)
            elif fl == "avg":
                e = F.expr(
                    f"named_struct('s', sum({c}.s), 'c', sum({c}.c))"
                )
            elif fl == "argmax":
                e = F.expr(
                    f"named_struct('v', max_by({c}.v, {c}.k),"
                    f" 'k', max({c}.k))"
                )
            elif fl == "argmin":
                e = F.expr(
                    f"named_struct('v', min_by({c}.v, {c}.k),"
                    f" 'k', min({c}.k))"
                )
            else:
                # plain columns ride like SummingMergeTree's "rest":
                # any surviving value (CH keeps an arbitrary one)
                e = F.first(f.name, ignorenulls=True)
            if not isinstance(f.dataType, (T.StructType, T.ArrayType)):
                # struct/array states already carry the right field
                # names; a cast would trip on nullability mismatches
                # (sum() is nullable, the declared state is not)
                e = e.cast(f.dataType)
            aggs.append(e.alias(f.name))
        out = df.groupBy(*keys).agg(*aggs)
        return out.select(*[f.name for f in df.schema.fields])
    if eng == "replacingmergetree":
        ver = spec.engine_args[0] if spec.engine_args else None
        if ver is None:
            # CH keeps an arbitrary row when no version is given; make it
            # deterministic: max over all non-key columns' struct.
            others = [f.name for f in df.schema.fields if f.name not in keys]
            ranked = F.struct(*[F.col(c) for c in others])
        else:
            ranked = F.col(ver)
        w = Window.partitionBy(*keys).orderBy(F.desc_nulls_last(ranked))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    if eng == "summingmergetree":
        if spec.engine_args:
            sum_cols = [a.strip("()` ") for a in spec.engine_args]
        else:
            sum_cols = [
                f.name
                for f in df.schema.fields
                if f.name not in keys
                and isinstance(
                    f.dataType,
                    (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                     T.FloatType, T.DoubleType, T.DecimalType),
                )
            ]
        others = [
            f.name for f in df.schema.fields if f.name not in keys + sum_cols
        ]
        aggs = [F.sum(c).alias(c) for c in sum_cols] + [
            F.first(c, ignorenulls=True).alias(c) for c in others
        ]
        out = df.groupBy(*keys).agg(*aggs)
        # restore original column order
        return out.select(*[f.name for f in df.schema.fields])
    if eng == "collapsingmergetree":
        if not spec.engine_args:
            raise ValueError("CollapsingMergeTree requires a sign column")
        sign = spec.engine_args[0].strip("()` ")
        others = [
            f.name for f in df.schema.fields if f.name not in keys and f.name != sign
        ]
        # ClickHouse collapses matched (+1, -1) pairs; a key whose signs
        # net to zero vanishes, a net-positive key keeps its last state
        # row.  "Last" is insertion order in ClickHouse (non-deterministic
        # across merges); over an append-only log we make it deterministic
        # the same way the no-version ReplacingMergeTree path does — max
        # struct over the non-key columns.  (Use VersionedCollapsing for
        # an explicit ordering column.)  Both windows share the key
        # partitioning, so FINAL costs exactly one shuffle on the merge
        # key — the shuffle a ClickHouse FINAL read pays.
        w = Window.partitionBy(*keys)
        wpick = w.orderBy(
            F.desc(sign),  # prefer a state (+1) row as representative
            F.desc_nulls_last(F.struct(*[F.col(c) for c in others])),
        )
        return (
            df.withColumn("__net", F.sum(sign).over(w))
            .withColumn("__rn", F.row_number().over(wpick))
            .where((F.col("__net") > 0) & (F.col("__rn") == 1))
            .drop("__net", "__rn")
        )
    if eng == "versionedcollapsingmergetree":
        if len(spec.engine_args) < 2:
            raise ValueError(
                "VersionedCollapsingMergeTree requires (sign, version) columns"
            )
        sign = spec.engine_args[0].strip("()` ")
        ver = spec.engine_args[1].strip("()` ")
        others = [
            f.name
            for f in df.schema.fields
            if f.name not in keys and f.name not in (sign, ver)
        ]
        # Pairs cancel per (key, version): a version whose signs net to
        # zero is collapsed away; every uncancelled version survives with
        # its state (+1) row.  One shuffle on (key, version).
        w = Window.partitionBy(*keys, ver)
        wpick = w.orderBy(
            F.desc(sign),
            F.desc_nulls_last(F.struct(*[F.col(c) for c in others])),
        )
        return (
            df.withColumn("__net", F.sum(sign).over(w))
            .withColumn("__rn", F.row_number().over(wpick))
            .where((F.col("__net") > 0) & (F.col("__rn") == 1))
            .drop("__net", "__rn")
        )
    raise ValueError(f"unsupported table engine: {spec.engine}")


def mutation_read_args(spec: TableSpec):
    """(read_schema, conform) for reading this table's files — the
    served view (register_view) and path-level rewrites alike.

    ``read_schema`` is the DECLARED schema, not a file-inferred one:
    files written before an ALTER ADD COLUMN lack the column (reads back
    NULL), files written before a DROP carry dead bytes (ignored), and
    there is no mergeSchema footer sweep — the 100 TB-friendly choice.
    RENAME COLUMN is metadata-only, so after a rename plus post-rename
    inserts the directory holds files with BOTH spellings; a footer-
    inferred read sees only one of them and silently drops the other
    vintage's values. ``read_schema`` therefore adds every legacy stored
    name (same type) and the derived partition column; ``conform``
    coalesces each declared column with its stored twin and drops the
    twin, so a rewrite emits canonical files carrying all vintages'
    values."""
    read_schema = T.StructType(list(spec.schema.fields))
    legacy: list[tuple[str, list[str]]] = []
    declared_names = [f.name for f in spec.schema.fields]
    types = {f.name: f.dataType for f in spec.schema.fields}
    for new_name, stored_names in spec.renames.items():
        keep = [
            s for s in stored_names
            if s != new_name and s not in declared_names
        ]
        for stored in keep:
            if stored not in read_schema.fieldNames():
                read_schema = read_schema.add(
                    T.StructField(stored, types.get(new_name, T.StringType()), True)
                )
        if keep:
            legacy.append((new_name, keep))
    pc0 = spec.partition_column()
    if pc0 and pc0[0] not in [f.name for f in read_schema.fields]:
        ptype = {
            "p_month": T.IntegerType(),
            "p_date": T.DateType(),
            "p_year": T.IntegerType(),
        }.get(pc0[0])
        if ptype is not None:
            read_schema = read_schema.add(T.StructField(pc0[0], ptype, True))

    if not legacy:
        return read_schema, None

    def conform(df: DataFrame) -> DataFrame:
        for new_name, stored_names in legacy:
            # each row carries the value under exactly one spelling
            # (newest spelling wins on the impossible overlap)
            df = df.withColumn(
                new_name,
                F.coalesce(
                    F.col(new_name), *[F.col(s) for s in reversed(stored_names)]
                ),
            ).drop(*stored_names)
        return df

    return read_schema, conform


def register_view(spark: SparkSession, spec: TableSpec, warehouse: str) -> None:
    """Register ``<name>`` as the FINAL view (merge semantics applied) and
    ``<name>_raw`` as the append log, if the table exists on disk."""
    path = os.path.join(warehouse, spec.name)
    if not os.path.exists(path):
        return
    read_schema, conform = mutation_read_args(spec)
    raw = spark.read.schema(read_schema).parquet(path)
    if conform is not None:
        raw = conform(raw)
    # serve the (possibly ALTERed) declared columns plus the derived
    # partition column; dropped columns stay hidden (bytes stay until
    # the next OPTIMIZE)
    declared = [f.name for f in spec.schema.fields]
    pc = spec.partition_column()
    raw = raw.select(*declared, *([pc[0]] if pc and pc[0] not in declared else []))
    raw.createOrReplaceTempView(f"{spec.name}_raw")
    served = final_read(raw, spec)
    # ALIAS columns: computed at read, never stored (ClickHouse contract)
    for aname in spec.alias_cols:
        kind_expr = spec.col_exprs.get(aname)
        if kind_expr is None:
            continue
        dt, _n = ch_type_to_spark(spec.ch_types.get(aname, "String"))
        served = served.withColumn(aname, F.expr(kind_expr[1]).cast(dt))
    served.createOrReplaceTempView(spec.name)
    for proj in spec.projections:
        ppath = projection_path(warehouse, spec.name, proj.name)
        if not os.path.exists(ppath):
            continue
        parts = spark.read.parquet(ppath)
        # _parts = the mergeable partial states (what query routing
        # re-aggregates); the bare view = merged final values.
        parts.createOrReplaceTempView(f"{spec.name}__proj_{proj.name}_parts")
        projection_read(spark, spec, proj, warehouse).createOrReplaceTempView(
            f"{spec.name}__proj_{proj.name}"
        )


def migrate(spark: SparkSession, migrations_dir: str, warehouse: str) -> list[TableSpec]:
    """Apply every ``*.up.sql`` in lexical order (the reference's
    migration convention: migrations/002..011_*.up.sql).  Each file may
    hold several statements separated by ``;``.  Returns the specs."""
    specs: dict[str, TableSpec] = {}
    for fn in sorted(os.listdir(migrations_dir)):
        if not fn.endswith(".up.sql"):
            continue
        with open(os.path.join(migrations_dir, fn)) as f:
            for stmt in _split_top(f.read(), ";"):
                if re.search(r"CREATE\s+TABLE", stmt, re.I):
                    spec = parse_clickhouse_ddl(stmt)
                    if spec.engine.lower() == "kafka":
                        # ENGINE = Kafka is a stream SOURCE, not storage:
                        # record the spec (settings carry broker/topics
                        # for Engine.ingest_kafka) but provision nothing.
                        specs[spec.name] = spec
                        continue
                    provision_table(spark, spec, warehouse)
                    specs[spec.name] = spec
                elif re.search(r"ALTER\s+TABLE", stmt, re.I):
                    spec = apply_alter(spark, stmt, specs, warehouse)
                    specs[spec.name] = spec
    return list(specs.values())


def apply_alter(
    spark: SparkSession,
    sql: str,
    specs: dict[str, TableSpec],
    warehouse: str,
) -> TableSpec:
    """``ALTER TABLE t ADD COLUMN c Type`` / ``DROP COLUMN c`` — schema
    evolution without rewriting data, the way ClickHouse does it (ADD is
    metadata-only; existing parts simply lack the column).

    Parquet gives the same for free: old files miss the column and read
    back NULL (or the declared DEFAULT applied at view level); DROP hides
    the column in the served view while old files keep the bytes until
    the next OPTIMIZE rewrite.  The updated spec re-registers the views.
    """
    m = re.search(
        r"ALTER\s+TABLE\s+([\w.]+)\s+(ADD|DROP|RENAME|MODIFY)\s+COLUMN\s+"
        r"(?:IF\s+(?:NOT\s+)?EXISTS\s+)?`?(\w+)`?\s*(.*)",
        sql,
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"unsupported ALTER TABLE statement: {sql[:120]!r}")
    tname = m.group(1).split(".")[-1]
    if tname not in specs:
        raise ValueError(f"ALTER TABLE {tname!r}: table not provisioned by these migrations")
    spec = specs[tname]
    action, cname, rest = m.group(2).upper(), m.group(3), m.group(4).strip().rstrip(";")
    fields = list(spec.schema.fields)
    ch_types = dict(spec.ch_types)
    renames = dict(spec.renames)
    order_by = list(spec.order_by)
    primary_key = list(spec.primary_key)
    sample_by = spec.sample_by
    spec_ttl = spec.ttl
    spec_partition_by = spec.partition_by
    spec_bloom = list(spec.bloom_cols)
    spec_col_exprs = dict(spec.col_exprs)
    spec_alias_cols = list(spec.alias_cols)
    if action == "ADD":
        ctype = _COL_ATTR.sub("", rest).strip() or "String"
        dt, nullable = ch_type_to_spark(ctype)
        # added columns are nullable by construction: old rows lack them
        fields.append(T.StructField(cname, dt, True))
        ch_types[cname] = ctype
    elif action == "DROP":
        if cname in {f.name for f in fields}:
            fields = [f for f in fields if f.name != cname]
            ch_types.pop(cname, None)
            renames.pop(cname, None)
    elif action == "RENAME":
        rm = re.match(r"^TO\s+`?(\w+)`?$", rest, re.I)
        if not rm:
            raise ValueError("RENAME COLUMN expects RENAME COLUMN a TO b")
        new_name = rm.group(1)
        if cname not in {f.name for f in fields}:
            raise ValueError(f"RENAME COLUMN: no column {cname!r}")
        # metadata-only, like ClickHouse: files keep the stored name and
        # the served view coalesces it (register_view). Chained renames
        # keep pointing at the ORIGINAL stored name.
        fields = [
            T.StructField(new_name, f.dataType, f.nullable)
            if f.name == cname else f
            for f in fields
        ]
        ch_types[new_name] = ch_types.pop(cname, "String")
        # carry the FULL spelling history: files inserted between two
        # renames sit on disk under the intermediate name
        renames[new_name] = renames.pop(cname, []) + [cname]
        order_by = [new_name if c == cname else c for c in order_by]
        primary_key = [new_name if c == cname else c for c in primary_key]
        if sample_by == cname:
            sample_by = new_name
        # every other spec field that references the column follows the
        # rename too — a TTL/partition/bloom/DEFAULT policy pointing at
        # the dead spelling would silently stop matching rows written
        # after the rename (new files carry the new name)
        _ref = re.compile(rf"\b{re.escape(cname)}\b")
        if spec_ttl and spec_ttl[0] == cname:
            spec_ttl = (new_name, spec_ttl[1], spec_ttl[2])
        if spec_partition_by:
            spec_partition_by = _ref.sub(new_name, spec_partition_by)
        spec_bloom = [new_name if c == cname else c for c in spec_bloom]
        spec_col_exprs = {
            (new_name if k == cname else k): (kind, _ref.sub(new_name, expr))
            for k, (kind, expr) in spec_col_exprs.items()
        }
        spec_alias_cols = [
            new_name if c == cname else c for c in spec_alias_cols
        ]
    else:  # MODIFY COLUMN c NewType — a mutation in ClickHouse too:
        # rewrite the stored data with the column cast (partition-
        # selective machinery degrades to full rewrite when needed)
        ctype = _COL_ATTR.sub("", rest).strip()
        if not ctype:
            raise ValueError("MODIFY COLUMN expects MODIFY COLUMN c Type")
        dt, _n = ch_type_to_spark(ctype)
        if cname not in {f.name for f in fields}:
            raise ValueError(f"MODIFY COLUMN: no column {cname!r}")
        fields = [
            T.StructField(cname, dt, f.nullable) if f.name == cname else f
            for f in fields
        ]
        ch_types[cname] = ctype
        from pyspark.sql import functions as F

        from ed_clickhouse_spark.operators.mutate import _mutate

        path = os.path.join(warehouse, spec.name)
        if os.path.exists(path):
            # rename-aware rewrite: read BOTH column spellings and
            # canonicalize (mutation_read_args), then cast the declared
            # name — a footer-inferred read here would drop whichever
            # vintage the sampled file lacks
            rs, conform = mutation_read_args(spec)
            _mutate(
                spark,
                path,
                F.lit(True),
                lambda df: df.withColumn(cname, F.col(cname).cast(dt)),
                read_schema=rs,
                conform=conform,
            )
    new_spec = TableSpec(
        name=spec.name,
        schema=T.StructType(fields),
        engine=spec.engine,
        engine_args=spec.engine_args,
        order_by=order_by,
        partition_by=spec_partition_by,
        primary_key=primary_key,
        ch_types=ch_types,
        ttl=spec_ttl,
        sample_by=sample_by,
        bloom_cols=spec_bloom,
        projections=spec.projections,
        col_exprs=spec_col_exprs,
        alias_cols=spec_alias_cols,
        settings=spec.settings,
        renames=renames,
    )
    register_view(spark, new_spec, warehouse)
    return new_spec


def apply_ttl(
    spark: SparkSession, spec: TableSpec, warehouse: str, now=None
) -> int:
    """Enforce the table's ``TTL col + INTERVAL n unit`` clause: delete
    expired rows — ClickHouse's background TTL merge, on demand.

    Runs through the mutation path (operators/mutate.py), so only
    partitions holding expired rows are rewritten; with PARTITION BY on
    the TTL column (the standard pairing) this is pure directory drops +
    one boundary-partition rewrite, no matter the table size.  Returns
    partitions touched.  ``now`` (a timestamp literal or Column) defaults
    to current_timestamp(); pass a fixed value for deterministic jobs.
    """
    if spec.ttl is None:
        raise ValueError(f"table {spec.name!r} has no TTL clause")
    from ed_clickhouse_spark.operators.mutate import delete_where

    col, n, unit = spec.ttl
    now_col = F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    cutoff = now_col - F.expr(f"INTERVAL {n} {unit}")
    rs, conform = mutation_read_args(spec)
    touched = delete_where(
        spark,
        os.path.join(warehouse, spec.name),
        F.col(col) < cutoff,
        read_schema=rs,
        conform=conform,
    )
    if touched:
        # the rewrite replaced files on disk — re-register so the served
        # view's cached file listing doesn't point at deleted parts
        register_view(spark, spec, warehouse)
    return touched


def sample_read(df: DataFrame, spec: TableSpec, fraction: float) -> DataFrame:
    """ClickHouse ``SELECT ... SAMPLE f``: deterministic hash sample over
    the table's SAMPLE BY key.

    ClickHouse samples by a range of ``intHash32(key)``; the engine-
    portable equivalent keeps every row whose md5(key) falls below the
    fraction of the hash space — same row set on every engine and every
    run, and consistent across queries (two SAMPLE 0.1 reads see the SAME
    tenth of the users, so per-user aggregates stay coherent — the whole
    point of SAMPLE BY user-key).  Pure codegen filter: at 100 TB this is
    a scan predicate, no shuffle, no materialized sample table.
    """
    if not (0.0 < fraction <= 1.0):
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    key = spec.sample_by
    if key is None:
        raise ValueError(f"table {spec.name!r} has no SAMPLE BY clause")
    m = re.match(r"^(?:intHash\d+|cityHash64|xxHash64)\s*\(\s*(\w+)\s*\)$", key, re.I)
    if m:
        key = m.group(1)
    if key not in [f.name for f in spec.schema.fields]:
        raise ValueError(f"SAMPLE BY column {key!r} not in table schema")
    # first 15 hex digits of md5 -> uniform in [0, 16^15). Compare as hex
    # STRINGS (lowercase hex is lexicographically ordered like its value),
    # which every engine spells identically — no int-from-hex needed.
    threshold = format(int(fraction * (16**15)), "015x")
    bucket = F.substring(F.md5(F.col(key).cast("string")), 1, 15)
    return df.where(bucket < F.lit(threshold))


def show_create(spec: TableSpec) -> str:
    """≙ ClickHouse ``SHOW CREATE TABLE``: reconstruct canonical DDL
    from a TableSpec. Round-trips through :func:`parse_clickhouse_ddl`
    (pytest-pinned), so a migrated warehouse can always emit the DDL
    that would recreate it — the introspection surface operators and
    humans use to diff environments."""
    def _attr(name: str) -> str:
        ke = spec.col_exprs.get(name)
        return f" {ke[0]} {ke[1]}" if ke else ""

    col_lines = [
        f"`{f.name}` {spec.ch_types.get(f.name, 'String')}{_attr(f.name)}"
        for f in spec.schema.fields
    ] + [
        f"`{n}` {spec.ch_types.get(n, 'String')}{_attr(n)}" for n in spec.alias_cols
    ]
    cols = ",\n  ".join(col_lines)
    idx = "".join(
        f",\n  INDEX idx_{c} {c} TYPE bloom_filter GRANULARITY 1"
        for c in spec.bloom_cols
    )
    for proj in spec.projections:
        items = list(proj.dims) + [
            (f"{func}({col}) AS {alias}" if func != "count" else f"count() AS {alias}")
            for func, col, alias in proj.aggs
        ]
        body = "SELECT " + ", ".join(items)
        if proj.is_aggregate:
            body += " GROUP BY " + ", ".join(proj.dims)
        if proj.order_by:
            body += " ORDER BY " + ", ".join(proj.order_by)
        idx += f",\n  PROJECTION {proj.name} ({body})"
    engine = spec.engine
    if spec.engine_args:
        engine += "(" + ", ".join(spec.engine_args) + ")"
    else:
        engine += "()"
    parts = [f"CREATE TABLE {spec.name}\n(\n  {cols}{idx}\n)\nENGINE = {engine}"]
    if spec.partition_by:
        parts.append(f"PARTITION BY {spec.partition_by}")
    if spec.order_by:
        parts.append("ORDER BY (" + ", ".join(spec.order_by) + ")")
    if spec.primary_key:
        parts.append("PRIMARY KEY (" + ", ".join(spec.primary_key) + ")")
    if spec.sample_by:
        parts.append(f"SAMPLE BY {spec.sample_by}")
    if spec.ttl:
        col, n, unit = spec.ttl
        parts.append(f"TTL {col} + INTERVAL {n} {unit}")
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# CREATE MATERIALIZED VIEW (ClickHouse MV -> insert-time partial states)
# ---------------------------------------------------------------------------

@dataclass
class MatViewSpec:
    """Parsed ``CREATE MATERIALIZED VIEW name [ENGINE = ...] [TO tgt]
    AS SELECT ... FROM src GROUP BY ...``.

    ClickHouse MVs are insert triggers: each inserted block is aggregated
    and appended to the target (AggregatingMergeTree keeps partial
    states).  The Spark translation is streaming/matview.py's
    StreamingMatView — this spec carries the parsed query shape onto it.
    Dims may be expressions (``toDate(ts) AS day``): the batch is
    projected first, then grouped on the aliases."""

    name: str
    source: str
    dims: list[tuple[str, str]] = field(default_factory=list)  # (expr, alias)
    count_alias: str | None = None
    sums: dict[str, str] = field(default_factory=dict)  # src expr -> alias
    mins: dict[str, str] = field(default_factory=dict)
    maxs: dict[str, str] = field(default_factory=dict)
    avgs: dict[str, str] = field(default_factory=dict)  # (sum, count) state
    quantiles: dict[str, str] = field(default_factory=dict)  # DDSketch map
    uniq: tuple[str, str] | None = None  # (source column, alias)


# the -State spellings are what a real AggregatingMergeTree MV is
# written with (countState(), sumState(x), uniqState(x)); the engine
# stores mergeable partials either way, so State parses as the base
_MV_AGG = re.compile(
    r"^(count|sum|min|max|avg|quantile|uniq|uniqExact)(?:State)?"
    r"\s*\(\s*(\*|[^)]*)\s*\)(?:\s+AS\s+(\w+))?$",
    re.I,
)


def parse_materialized_view(sql: str) -> MatViewSpec:
    m = re.match(
        r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?"
        r".*?\bAS\s+SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?"
        r"(?:\s+GROUP\s+BY\s+(.*?))?\s*;?\s*$",
        sql,
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"cannot parse materialized view: {sql[:120]!r}")
    name, items, source, group_by = m.groups()
    spec = MatViewSpec(name=name, source=source)
    for item in _split_top(items):
        item = item.strip()
        am = _MV_AGG.match(item)
        if am:
            func = am.group(1).lower()
            arg = am.group(2).strip().strip("`")
            alias = am.group(3) or (func if arg in ("", "*") else f"{func}_{arg}")
            if func == "count":
                spec.count_alias = alias
            elif func == "sum":
                spec.sums[arg] = alias
            elif func == "min":
                spec.mins[arg] = alias
            elif func == "max":
                spec.maxs[arg] = alias
            elif func == "avg":
                spec.avgs[arg] = alias
            elif func == "quantile":
                spec.quantiles[arg] = alias
            else:  # uniq / uniqExact -> mergeable HLL state
                spec.uniq = (arg, alias)
        else:
            em = re.match(r"^(.*?)\s+AS\s+(\w+)$", item, re.I | re.S)
            if em:
                spec.dims.append((em.group(1).strip(), em.group(2)))
            else:
                spec.dims.append((item.strip("`"), item.strip("`")))
    if group_by:
        gb = {c.strip().strip("`") for c in _split_top(group_by)}
        if gb != {a for _e, a in spec.dims}:
            raise ValueError(
                f"MV {name!r}: GROUP BY {sorted(gb)} must match the "
                f"non-aggregate select aliases {sorted(a for _e, a in spec.dims)}"
            )
    return spec


class MatView:
    """A provisioned ClickHouse-style materialized view: projects each
    inserted batch onto the MV's dim expressions, then delegates to
    StreamingMatView for the partial-state append (insert trigger) and
    the -Merge read.  Works from both the streaming ingest hook
    (``views=``) and ch_sql INSERTs.

    Mutation semantics match ClickHouse exactly: MVs are INSERT
    triggers, so ALTER DELETE/UPDATE on the source table does NOT
    propagate (ClickHouse documents the same) — unlike PROJECTIONs,
    which the engine rebuilds on mutation because ClickHouse rebuilds
    or drops projection parts."""

    def __init__(self, spark: SparkSession, spec: MatViewSpec, warehouse: str):
        from ed_clickhouse_spark.streaming.matview import StreamingMatView

        self.spec = spec
        self.path = os.path.join(warehouse, "_views", spec.name)  # the states
        self._inner = StreamingMatView(
            spark,
            self.path,
            dims=[a for _e, a in spec.dims],
            sums={e: a for e, a in spec.sums.items()},
            mins={e: a for e, a in spec.mins.items()},
            maxs={e: a for e, a in spec.maxs.items()},
            avgs={e: a for e, a in spec.avgs.items()},
            quantiles={e: a for e, a in spec.quantiles.items()},
            distinct_entity=spec.uniq[0] if spec.uniq else None,
        )

    def _project(self, batch: DataFrame) -> DataFrame:
        out = batch
        for expr, alias in self.spec.dims:
            if expr != alias or alias not in out.columns:
                out = out.withColumn(alias, F.expr(expr))
        return out

    def on_batch(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        # the epoch is ignored: ch_sql INSERTs append to the same state
        # directory without one, and the two layouts don't mix
        self._inner.on_batch(self._project(batch))

    def read(self, keys: list[str] | None = None) -> DataFrame:
        out = self._inner.read(keys)
        renames = {"n_rows": self.spec.count_alias} if self.spec.count_alias else {}
        if self.spec.uniq:
            renames["est_distinct"] = self.spec.uniq[1]
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        if self.spec.count_alias is None and "n_rows" in out.columns:
            out = out.drop("n_rows")
        return out

    def states(self) -> DataFrame:
        """The raw partial-state table with the MV's user-facing column
        names — the AggregatingMergeTree surface, registered as
        ``<mv>_state`` so saved ClickHouse ``-Merge`` queries run
        verbatim through ch_sql (``SELECT dims, countMerge(n),
        sumMerge(s), uniqMerge(u) FROM <mv>_state GROUP BY dims``).
        Count states surface under the count alias (partial counts —
        countMerge ≙ sum), the HLL sketch under the uniq alias
        (uniqMerge ≙ hll_sketch_estimate ∘ hll_union_agg)."""
        st = self._inner.spark.read.parquet(self._inner.dest_path)
        if "__epoch" in st.columns:
            st = st.drop("__epoch")
        renames = {}
        if self.spec.count_alias:
            renames["n_rows"] = self.spec.count_alias
        if self.spec.uniq:
            renames["hll_state"] = self.spec.uniq[1]
        for old, new in renames.items():
            st = st.withColumnRenamed(old, new)
        # avg states surface as one struct per alias: avgMerge(a) in
        # ch_sql re-aggregates sum(a.s)/sum(a.c)
        for dst in self.spec.avgs.values():
            st = st.withColumn(
                dst,
                F.struct(
                    F.col(f"__avg_{dst}_s").alias("s"),
                    F.col(f"__avg_{dst}_c").alias("c"),
                ),
            ).drop(f"__avg_{dst}_s", f"__avg_{dst}_c")
        if self.spec.count_alias is None and "n_rows" in st.columns:
            st = st.drop("n_rows")
        return st


def spark_type_to_ch(dt: T.DataType) -> str:
    """Inverse of :func:`ch_type_to_spark` for CTAS schema inference."""
    if isinstance(dt, T.ByteType):
        return "Int8"
    if isinstance(dt, T.ShortType):
        return "Int16"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, T.BooleanType):
        return "Bool"
    if isinstance(dt, T.DateType):
        return "Date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "DateTime"
    if isinstance(dt, T.ArrayType):
        return f"Array({spark_type_to_ch(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"Map({spark_type_to_ch(dt.keyType)}, {spark_type_to_ch(dt.valueType)})"
    raise ValueError(f"no ClickHouse spelling for Spark type {dt.simpleString()!r}")


def compact_projection(
    spark: SparkSession, spec: TableSpec, proj: ProjectionSpec, warehouse: str
) -> int:
    """Merge a projection's partial-state rows down to one per dims and
    rewrite — ClickHouse's background part merges for projection data.
    Lossless (sum/count partials re-sum, min/max re-min/max) and
    repeatable; stage-then-swap so a mid-compaction crash leaves the old
    states intact.  Sort projections re-sort instead (the bin-pack for
    them lives in operators/mutate.py:compact_partitions).  Returns the
    row count after compaction."""
    import shutil

    path = projection_path(warehouse, spec.name, proj.name)
    raw = spark.read.parquet(path)
    if proj.is_aggregate:
        merged = raw.groupBy(*proj.dims).agg(
            *[getattr(F, func)(col).alias(col) for col, func in proj.partial_cols()]
        )
    else:
        merged = write_order(raw, proj.order_by or proj.dims)
    tmp = path.rstrip("/") + "__compacting"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return spark.read.parquet(path).count()
