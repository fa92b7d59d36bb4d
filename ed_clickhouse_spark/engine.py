"""Engine facade — the surface a user of the reference stack switches to.

The reference gives its users three things (SURVEY.md §0): an ingestion
service (NATS -> nine ClickHouse tables), DDL for those tables
(``migrations/*.sql``), and a ClickHouse SQL endpoint to query them.
:class:`Engine` packages the Spark-native equivalents of all three:

    eng = Engine(warehouse="/data/wh")
    eng.init()                        # ≙ running the migrations (EP3)
    q = eng.ingest(source_dir)        # ≙ the NATS->ClickHouse service (EP1)
    eng.sql("SELECT toStartOfDay(timestamp) d, count(*) FROM "
            "angulak_watch_events GROUP BY 1")          # ≙ EP2
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import replace
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ed_clickhouse_spark import chsql, ddl
from ed_clickhouse_spark.functions import register_sql_aliases
from ed_clickhouse_spark.operators import dictionary as _dic
from ed_clickhouse_spark.operators import mutate as _mut
from ed_clickhouse_spark.session import get_spark
from ed_clickhouse_spark.sources.registry import (
    BY_TABLE,
    DLQ_SPEC,
    DLQ_TABLE,
    FAMILIES,
    table_spec,
)
from ed_clickhouse_spark.streaming.pipeline import start_ingest


class _ToTableMV:
    """A ``CREATE MATERIALIZED VIEW mv TO target AS SELECT ...``
    insert trigger: per inserted batch, the body (typically -State
    aggregates) re-runs through the CLICKHOUSE dialect against the
    batch and appends into the TARGET table under its write policy —
    the classic MV → AggregatingMergeTree rollup pair. Reads then hit
    the target's own merged view with the -Merge spellings, exactly
    ClickHouse's TO semantics (the MV itself stores nothing).

    Duck-types the ddl.MatView trigger surface (``spec.source``,
    ``on_batch``) so both ch_sql INSERTs and the streaming ingest
    hook fire it."""

    @staticmethod
    def _depth0_ctes(sql: str) -> dict:
        """Depth-0 ``WITH name AS ( body )`` declarations → name→body.
        Scalar WITH forms (``WITH 1 AS x``) stop the scan — they don't
        introduce table names a FROM could target."""
        out: dict = {}
        m = chsql._find_top(sql, r"^\s*WITH\b")
        if not m:
            return out
        pos = m.end()
        rx = re.compile(r"\s*`?(\w+)`?\s+AS\s*\(", re.I)
        while True:
            mm = rx.match(sql, pos)
            if not mm:
                break
            open1 = sql.index("(", mm.end() - 1)
            close1 = chsql._call_end(sql, open1)
            out[mm.group(1)] = sql[open1 + 1: close1]
            pos = close1 + 1
            sep = re.match(r"\s*,", sql[pos:])
            if not sep:
                break
            pos += sep.end()
        return out

    def __init__(self, engine: "Engine", name: str, to_table: str,
                 body: str):
        # the SOURCE is the outer query's main FROM table — a depth-0
        # match, so a scalar subquery in the SELECT list (e.g.
        # SELECT (SELECT max(x) FROM other) ... FROM src) can't hijack
        # the binding (ADVICE r8)
        fm = chsql._find_top(body, r"\bFROM\s+`?(\w+)`?")
        if not fm:
            # derived-table body (FROM (SELECT ...)): the leftmost
            # textual table reference is the feeding source
            fm = re.search(r"\bFROM\s+`?(\w+)`?", body, re.I)
        if not fm:
            raise ValueError(
                "materialized view body must read FROM a source table"
            )
        source = fm.group(1)
        # ... but when the depth-0 FROM target is a CTE declared in
        # the body's own WITH clause (WITH x AS (SELECT ... FROM src)
        # SELECT ... FROM x), the REAL feeding table is the CTE's
        # source — resolve through the chain so the insert trigger
        # fires on inserts into src, not never (ADVICE r9)
        cte_map = self._depth0_ctes(body)
        seen: set = set()
        while source in cte_map and source not in seen:
            seen.add(source)
            sub = cte_map[source]
            sfm = chsql._find_top(sub, r"\bFROM\s+`?(\w+)`?")
            if not sfm:
                sfm = re.search(r"\bFROM\s+`?(\w+)`?", sub, re.I)
            if not sfm:
                break  # table-less CTE (SELECT 1): keep the CTE name
            source = sfm.group(1)
            # a nested WITH inside the CTE body scopes its own names
            cte_map = {**cte_map, **self._depth0_ctes(sub)}
        self.engine = engine
        self.to_table = to_table
        self.body = body
        self.spec = SimpleNamespace(name=name, source=source)

    def on_batch(self, batch: DataFrame, epoch_id=None) -> None:
        # global: a streamed batch belongs to the stream's own session,
        # while the body runs in the Engine's (its tables and functions)
        name = f"__mv_batch_{self.spec.name}"
        batch.createOrReplaceGlobalTempView(name)
        view = f"{self.engine.spark.conf.get('spark.sql.globalTempDatabase')}.{name}"
        # the trigger sees ONLY the inserted batch (CH semantics), so
        # the body's FROM <source> rebinds to the batch view — the
        # outer query's MAIN FROM only (depth-0, not a scalar subquery
        # that happens to appear first textually): ClickHouse feeds the
        # inserted block to the leftmost main-FROM table, while a
        # self-join's other references read the stored table
        fm = chsql._find_top(self.body, rf"\bFROM\s+`?{self.spec.source}`?\b")
        if fm is None:
            # derived-table body: same fallback __init__ took
            fm = re.search(
                rf"\bFROM\s+`?{self.spec.source}`?\b", self.body, re.I
            )
        if fm is None:  # unreachable: __init__ anchored the same match
            raise ValueError(
                f"MV {self.spec.name}: source {self.spec.source!r} not"
                " found at the top level of the body"
            )
        body = (
            self.body[: fm.start()] + f"FROM {view}"
            + self.body[fm.end():]
        )
        out = self.engine.spark.sql(
            chsql.translate(body, self.engine.table_specs).sql
        )
        spec = self.engine.table_specs[self.to_table]
        # align to the target's declared columns (positional SELECT
        # aliases must already match, like a CH INSERT SELECT)
        out = out.select(*[f.name for f in spec.schema.fields])
        ddl.append_rows(out, spec, self.engine.warehouse)
        ddl.register_view(
            self.engine.spark, spec, self.engine.warehouse
        )

    # ClickHouse TO semantics: the MV name is an alias of the target
    # table (the MV stores nothing itself) — both read surfaces serve
    # the target's merged view, and -Merge queries read it directly
    def read(self, keys=None) -> DataFrame:
        return self.engine.spark.table(self.to_table)

    def states(self) -> DataFrame:
        return self.engine.spark.table(self.to_table)


class Engine:
    """One warehouse of the nine event tables + DLQ, with the ClickHouse
    SQL vocabulary registered."""

    def __init__(self, warehouse: str, spark: SparkSession | None = None):
        self.warehouse = warehouse
        self.spark = spark or get_spark("ed_clickhouse_spark")
        # per-engine ingestion defaults; Engine.from_config overrides
        # these from the [batcher] section (≙ reference config/default.toml)
        self.ingest_defaults: dict = {}
        self.table_specs: dict = {}
        self.matviews: dict = {}  # name -> ddl.MatView (insert triggers)
        self._detached: dict = {}  # name -> TableSpec (DETACH TABLE)
        self._query_log: list = []
        register_sql_aliases(self.spark)

    @classmethod
    def from_config(cls, path: str) -> "Engine":
        """Build an Engine from one TOML file — parity with the
        reference's end-to-end TOML surface (src/config.rs:4-118,
        config/default.toml). Sections:

          [warehouse] path                   (required)
          [batcher]   max_rows, max_bytes, flush_interval_ms
                        (≙ config/default.toml:41-43; become the ingest
                         defaults: rows cap, bytes cap, trigger interval)
          [spark]     shuffle_partitions, broadcast_threshold, and any
                        literal conf keys under [spark.conf]
          [kafka]     bootstrap_servers, topics
                        (≙ the [nats] connection block; used by
                         ingest_kafka when no explicit args are given)

        Note Spark session semantics: get_spark getOrCreate-s, so [spark]
        settings apply to a NEW session; an already-running session keeps
        its conf (set runtime confs on it directly instead)."""
        import tomllib

        with open(path, "rb") as f:
            cfg = tomllib.load(f)
        wh = cfg["warehouse"]["path"]
        sp = cfg.get("spark", {})
        extra = {str(k): str(v) for k, v in sp.get("conf", {}).items()}
        if "broadcast_threshold" in sp:
            extra["spark.sql.autoBroadcastJoinThreshold"] = str(sp["broadcast_threshold"])
        spark = get_spark(
            sp.get("app_name", "ed_clickhouse_spark"),
            shuffle_partitions=sp.get("shuffle_partitions"),
            extra_conf=extra,
        )
        eng = cls(wh, spark)
        b = cfg.get("batcher", {})
        if "max_rows" in b:
            eng.ingest_defaults["max_rows"] = int(b["max_rows"])
        if "max_bytes" in b:
            eng.ingest_defaults["bytes_per_trigger"] = int(b["max_bytes"])
        if "flush_interval_ms" in b:
            eng.ingest_defaults["trigger_interval_ms"] = int(b["flush_interval_ms"])
        k = cfg.get("kafka", {})
        if k:
            eng.ingest_defaults["kafka"] = {
                "bootstrap_servers": k.get("bootstrap_servers", "localhost:9092"),
                "topics": list(k.get("topics", [])),
            }
        n = cfg.get("nats", {})
        if n:
            # the reference's [nats] block verbatim (config/default.toml:
            # 10-28): host/ports + auth + stream/consumer identity
            eng.ingest_defaults["nats"] = {
                "url": "nats://{}:{}".format(
                    n.get("host", "localhost"), n.get("client_port", 4222)
                ),
                "subjects": list(n.get("subjects", [])),
                "durable": n.get("consumer_name", "click-consumer"),
                "stream": n.get("stream_config", {}).get(
                    "name", "ClickHouseConsumer"
                ),
            }
        return eng

    # -- EP3: provisioning ------------------------------------------------
    def init(self) -> None:
        """Idempotently create all event tables (empty, under each
        family's declared-or-default spec) and register them as views —
        ≙ `CREATE TABLE IF NOT EXISTS` migrations (reference
        migrations/002..011)."""
        os.makedirs(self.warehouse, exist_ok=True)
        for fam in FAMILIES:
            ddl.provision_table(
                self.spark, table_spec(fam.table, self.table_specs), self.warehouse
            )
        self.refresh_views()

    def _register_mv(self, mv) -> None:
        """Register both read surfaces of a materialized view: the MV
        name reads MERGED (final values — the default a Spark user
        wants), and ``<name>_state`` exposes the raw mergeable partials
        so saved ClickHouse ``-Merge`` queries (countMerge/sumMerge/
        uniqMerge) run verbatim through ch_sql. A self-storing view has
        no surfaces until its first insert writes states."""
        if isinstance(mv, ddl.MatView) and not os.path.isdir(mv.path):
            return
        mv.read().createOrReplaceTempView(mv.spec.name)
        mv.states().createOrReplaceTempView(f"{mv.spec.name}_state")

    def refresh_views(self) -> None:
        """(Re)register every table on disk under its spec, the DLQ, and
        then the materialized views' read surfaces."""
        for name in dict.fromkeys([*BY_TABLE, *self.table_specs]):
            self._refresh(name)
        if os.path.exists(os.path.join(self.warehouse, DLQ_TABLE)):
            self._dlq().createOrReplaceTempView("dlq")
        for mv in self.matviews.values():
            self._register_mv(mv)

    def _dlq(self) -> DataFrame:
        return self.spark.read.schema(DLQ_SPEC.schema).parquet(
            os.path.join(self.warehouse, DLQ_TABLE)
        )

    def _stream_kw(self, kw: dict) -> dict:
        """The ingest arguments every stream mode shares: the table
        catalog, and ``views`` extended with this Engine's materialized
        views as insert triggers of their source tables."""
        views = {t: list(vs) for t, vs in (kw.get("views") or {}).items()}
        for mv in self.matviews.values():
            views.setdefault(mv.spec.source, []).append(mv)
        return {**kw, "views": views, "tables": self.table_specs}

    def migrate(self, migrations_dir: str):
        """Apply a directory of ClickHouse ``*.up.sql`` migrations —
        the reference's own provisioning path (migrations/002..011): each
        CREATE TABLE is translated (ddl.py) to a Spark schema + write
        policy and provisioned idempotently.  A user can point their
        existing ClickHouse migrations here unchanged.  Returns the
        parsed TableSpecs."""
        os.makedirs(self.warehouse, exist_ok=True)
        specs = ddl.migrate(self.spark, migrations_dir, self.warehouse)
        self.table_specs = {s.name: s for s in specs}
        # CREATE MATERIALIZED VIEW statements: ClickHouse insert triggers,
        # built by the same handler ch_sql runs (so the TO form writes
        # into its target here too) — ch_sql INSERTs and the ingest
        # pipeline (views= hook) both fire them per batch.
        for fn in sorted(os.listdir(migrations_dir)):
            if not fn.endswith(".up.sql"):
                continue
            with open(os.path.join(migrations_dir, fn)) as f:
                for stmt in ddl._split_top(f.read(), ";"):
                    if _CREATE_MV.search(stmt):
                        self._create_matview(stmt)
        return specs

    # -- EP1: ingestion ---------------------------------------------------
    def ingest(self, source_dir: str, checkpoint: str | None = None, **kw):
        """Start the streaming ingestion into this warehouse; returns the
        StreamingQuery (stop() for graceful shutdown ≙ ctrl-c drain).
        Config-file batcher settings apply unless overridden in ``kw``."""
        ckpt = checkpoint or os.path.join(self.warehouse, "_checkpoints", "ingest")
        for key in ("bytes_per_trigger", "trigger_interval_ms"):
            if key in self.ingest_defaults:
                kw.setdefault(key, self.ingest_defaults[key])
        return start_ingest(
            self.spark, source_dir, self.warehouse, ckpt, **self._stream_kw(kw)
        )

    def ingest_kafka(
        self,
        bootstrap_servers: str | None = None,
        topics: list[str] | None = None,
        checkpoint: str | None = None,
        **kw,
    ):
        """Kafka-mode ingestion (production path; ≙ the reference's NATS
        consumer). Connection defaults come from the [kafka] config
        section; the [batcher] rows cap maps to maxOffsetsPerTrigger."""
        from ed_clickhouse_spark.streaming.pipeline import start_ingest_kafka

        kcfg = self.ingest_defaults.get("kafka", {})
        ddl_src = self._kafka_ddl_source()
        servers = bootstrap_servers or kcfg.get("bootstrap_servers") or ddl_src[0]
        tops = topics or kcfg.get("topics") or ddl_src[1]
        if not servers or not tops:
            raise ValueError("kafka mode needs bootstrap_servers and topics "
                             "(args or [kafka] config section)")
        ckpt = checkpoint or os.path.join(self.warehouse, "_checkpoints", "ingest_kafka")
        if "max_rows" in self.ingest_defaults:
            kw.setdefault("max_offsets_per_trigger", self.ingest_defaults["max_rows"])
        if "trigger_interval_ms" in self.ingest_defaults:
            kw.setdefault("trigger_interval_ms", self.ingest_defaults["trigger_interval_ms"])
        return start_ingest_kafka(
            self.spark, servers, tops, self.warehouse, ckpt, **self._stream_kw(kw)
        )

    def ingest_nats(
        self,
        client=None,
        spool_dir: str | None = None,
        checkpoint: str | None = None,
        **kw,
    ):
        """NATS-mode ingestion (the reference's literal stack,
        src/nats.rs:63-83): a JetStream fetch/ack ``client`` drives a
        :class:`~ed_clickhouse_spark.sources.nats.NatsBridge` spool and
        the checkpointed file ingest consumes it.  Without an explicit
        client, one is connected from the [nats] config section via the
        public nats-py package (raises with the bridge recipe when the
        package is absent).  Returns ``(query, bridge)`` — the caller
        pumps the bridge on its own cadence."""
        from ed_clickhouse_spark.sources.nats import (
            NatsBridge,
            connect_nats,
            start_ingest_nats,
        )

        if client is None:
            ncfg = self.ingest_defaults.get("nats")
            if not ncfg:
                raise ValueError(
                    "nats mode needs a client or a [nats] config section"
                )
            client = connect_nats(
                ncfg["url"], ncfg["stream"], ncfg["durable"], ncfg["subjects"]
            )
        spool = spool_dir or os.path.join(self.warehouse, "_nats_spool")
        ckpt = checkpoint or os.path.join(
            self.warehouse, "_checkpoints", "ingest_nats"
        )
        if "max_rows" in self.ingest_defaults:
            kw.setdefault("max_files_per_trigger", 100)
        if "trigger_interval_ms" in self.ingest_defaults:
            kw.setdefault(
                "trigger_interval_ms", self.ingest_defaults["trigger_interval_ms"]
            )
        bridge = NatsBridge(
            client, spool, max_msgs=self.ingest_defaults.get("max_rows", 100_000)
        )
        query = start_ingest_nats(
            self.spark, bridge, self.warehouse, ckpt, **self._stream_kw(kw)
        )
        return query, bridge

    def _kafka_ddl_source(self) -> tuple[str | None, list[str] | None]:
        """Connection details declared by an ``ENGINE = Kafka`` table in
        the migrations (``kafka_broker_list`` / ``kafka_topic_list``
        SETTINGS — the ClickHouse Kafka-engine spelling). Lowest-
        precedence default for :meth:`ingest_kafka`."""
        for spec in self.table_specs.values():
            if spec.engine.lower() == "kafka":
                s = spec.settings
                topics = s.get("kafka_topic_list")
                return (
                    s.get("kafka_broker_list"),
                    [t.strip() for t in topics.split(",")] if topics else None,
                )
        return (None, None)

    # -- EP2: query -------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Spark SQL over the event tables (ClickHouse spellings like
        toStartOfDay/JSONExtractString registered). Every call is
        recorded in :meth:`query_log` (≙ ``system.query_log``)."""
        t0 = time.time()
        df = self.spark.sql(query)
        self._query_log.append(
            (t0, "spark", query, round((time.time() - t0) * 1000, 3))
        )
        return df

    def query_log(self) -> DataFrame:
        """≙ ClickHouse ``system.query_log``: one row per sql()/ch_sql()
        call — epoch seconds, dialect, query text, PLANNING milliseconds
        (execution is lazy in Spark, so run time lands on the action;
        the log captures what the server-side log's `query` + parse
        columns capture). Driver-side list; bounded by session life."""
        return self.spark.createDataFrame(
            self._query_log or [(0.0, "spark", "", 0.0)],
            "event_time double, dialect string, query string, plan_ms double",
        ).filter(F.col("query") != "")

    def ch_sql(self, query: str, params: dict | None = None) -> DataFrame:
        """Run a CLICKHOUSE-dialect query: the clause-level syntax the
        reference's users write (PREWHERE, FINAL, SAMPLE, ARRAY JOIN,
        LIMIT BY, WITH TOTALS, FORMAT, SETTINGS) is rewritten to Spark
        SQL (chsql.translate) against the migrated views; the function
        spellings are already registered. ``params`` fills
        clickhouse-client ``{name:Type}`` placeholders with typed
        literals before any parsing. A requested FORMAT name is
        recorded on the result as ``df.ch_format``.

        Metadata, INSERT, DDL and mutation statements run the handler of
        the first :data:`_STATEMENTS` entry their text matches; anything
        else is a query."""
        t0 = time.time()
        if params:
            query = chsql.substitute_params(query, params)
        entry, m = _statement(query)
        if entry is not None:
            df = entry[1](self, *m.groups())
        else:
            tr = chsql.translate(query, self.table_specs)
            if "system_" in tr.sql:
                self._refresh_system_views()
            df = self.spark.sql(self._route_projection(tr.sql))
            df.ch_format = tr.format
        # an INSERT logs its first line: an inline payload stays out
        logged = query.split("\n", 1)[0] if _INSERT.match(query.lstrip()) else query
        self._query_log.append(
            (t0, "clickhouse", logged, round((time.time() - t0) * 1000, 3))
        )
        return df

    # -- statement helpers ------------------------------------------------
    def _status(self, table: str, op: str, n) -> DataFrame:
        """The one-row (table, op, affected) result of a DDL, mutation
        or SYSTEM statement."""
        return self.spark.createDataFrame(
            [(table, op, int(n))], "table string, op string, affected long"
        )

    def _refresh(self, name: str) -> None:
        """Re-register a table's or materialized view's views after its
        files or spec changed."""
        spec = table_spec(name, self.table_specs)
        if spec is not None:
            ddl.register_view(self.spark, spec, self.warehouse)
        elif name in self.matviews:
            self._register_mv(self.matviews[name])

    def _table(self, name: str):
        spec = self.table_specs.get(name)
        path = os.path.join(self.warehouse, name)
        if not os.path.isdir(path):
            raise KeyError(f"unknown table {name!r}")
        return spec, path

    def _spec_of(self, name: str):
        spec, _path = self._table(name)
        if spec is None:
            raise KeyError(f"no spec for table {name!r}")
        return spec

    def _declared(self, table: str):
        spec = self.table_specs.get(table)
        if spec is None:
            raise KeyError(f"unknown table {table!r}; run migrate() first")
        return spec

    def _footprint(self, table: str, projections) -> list:
        """Everything a table owns outside its spec, as (directory,
        views) pairs: first the table's own files with its ``t`` and
        ``t_raw`` views, then each named projection's
        ``t__proj_<p>`` files with its merged and ``_parts`` views.
        DROP, RENAME, EXCHANGE, DETACH and DROP PROJECTION all act on
        this one list."""
        parts = [(os.path.join(self.warehouse, table), (table, f"{table}_raw"))]
        for p in projections:
            view = f"{table}__proj_{p}"
            parts.append(
                (ddl.projection_path(self.warehouse, table, p), (view, f"{view}_parts"))
            )
        return parts

    def _unlink(self, parts, keep_files: bool = False) -> None:
        for path, views in parts:
            if not keep_files and os.path.isdir(path):
                shutil.rmtree(path)
            for view in views:
                self.spark.catalog.dropTempView(view)

    def _move(self, old: str, new: str, projections) -> None:
        """Rename a table's directories (projections included) from
        ``old`` to ``new`` and drop the views that named the old ones."""
        parts = self._footprint(old, projections)
        for (src, _views), (dst, _new_views) in zip(
            parts, self._footprint(new, projections)
        ):
            if os.path.isdir(src):
                os.rename(src, dst)
        self._unlink(parts, keep_files=True)

    def _append(self, table: str, df: DataFrame, n) -> DataFrame:
        """The one insert tail: append ``df`` under the table's write
        policy (partition dirs + ORDER BY sort), re-register its views,
        fire materialized-view insert triggers on the written batch
        (DEFAULT/MATERIALIZED applied) and return the (table,
        rows_inserted) frame. ``n`` is the row count, or the
        Observation counting the append job."""
        spec = self.table_specs[table]
        written = ddl.append_rows(df, spec, self.warehouse)
        ddl.register_view(self.spark, spec, self.warehouse)
        if isinstance(n, Observation):
            n = n.get["n"]
        for mv in self.matviews.values():
            if mv.spec.source == table:
                # the written batch is lazy: a trigger re-runs the input
                # (one more job over it, never the whole table;
                # non-deterministic SELECTs should materialize first).
                # Re-register the MV's read views too — parquet file
                # listings are snapshotted per plan, so stale views would
                # miss new states
                mv.on_batch(written)
                self._register_mv(mv)
        return self.spark.createDataFrame(
            [(table, int(n))], "table string, rows_inserted long"
        )

    # -- metadata statements ----------------------------------------------
    # SHOW CREATE TABLE reconstructs canonical DDL from the migrated spec
    # (parse round-trip pinned in test_ddl). Other SHOW/DESCRIBE forms
    # pass through — Spark's own SHOW TABLES / DESCRIBE TABLE accept the
    # same spelling.
    def _show_processlist(self) -> DataFrame:
        self._refresh_system_views()
        return self.spark.table("system_processes")

    def _show_dictionaries(self) -> DataFrame:
        self._refresh_system_views()
        return self.spark.table("system_dictionaries").select("name")

    def _show_settings(self, like) -> DataFrame:
        self._refresh_system_views()
        df = self.spark.table("system_settings")
        return df.where(F.col("name").like(like)) if like else df

    def _show_tables_like(self, negate, op: str, pattern: str) -> DataFrame:
        # Spark's own SHOW TABLES LIKE takes a GLOB, not SQL LIKE
        # (batch-84: LIKE 't%' silently matched nothing) — filter
        # Spark's listing with the real LIKE/ILIKE/NOT semantics
        col = F.col("tableName")
        cond = col.ilike(pattern) if op.upper() == "ILIKE" else col.like(pattern)
        return self.spark.sql("SHOW TABLES").where(~cond if negate else cond)

    def _show_grants(self) -> DataFrame:
        # single-tenant: the session user owns everything
        return self.spark.createDataFrame(
            [(f"GRANT ALL ON *.* TO {os.environ.get('USER', 'default')}"
              " WITH GRANT OPTION",)],
            "grants string",
        )

    def _show_create(self, name: str) -> DataFrame:
        return self.spark.createDataFrame(
            [(ddl.show_create(self._declared(name)),)], "statement string"
        )

    def _exists(self, name: str) -> DataFrame:
        # a table exists if migrations declared it OR the engine
        # provisioned/registered it (event families, CTAS views)
        known = (
            name in self.table_specs
            or self.spark.catalog.tableExists(name)
            or os.path.exists(os.path.join(self.warehouse, name))
        )
        return self.spark.createDataFrame([(1 if known else 0,)], "result int")

    def _kill_query(self) -> DataFrame:
        # single-process engine: ch_sql calls are synchronous, so
        # by the time KILL parses there is nothing in-flight —
        # SHOW PROCESSLIST is empty for the same reason. CH's
        # response shape: one row per matched query, so none.
        # (KILL MUTATION keeps its status-row handler.)
        return self.spark.createDataFrame([], "query_id string, result string")

    def _explain(self, kind, query: str) -> DataFrame:
        # ClickHouse EXPLAIN SELECT ... -> Spark's plan for the
        # TRANSLATED query (including projection routing), so users
        # see what actually executes. Variants (r8 batch 50):
        # SYNTAX/AST -> the translated SQL itself (CH returns the
        # rewritten query — ours IS the rewrite output);
        # PIPELINE -> the formatted physical plan; ESTIMATE ->
        # per-table rows/parts/bytes from the warehouse metadata
        # (the same numbers system.parts serves); PLAN/default ->
        # Spark's EXPLAIN.
        kind = (kind or "PLAN").upper()
        inner = self._route_projection(
            chsql.translate(query, self.table_specs).sql
        )
        if kind in ("SYNTAX", "AST"):
            return self.spark.createDataFrame([(inner,)], "explain string")
        if kind == "ESTIMATE":
            # CH shape: (table, parts, rows, bytes) per scanned
            # table. parts/bytes come from the warehouse metadata;
            # rows is a parquet-footer count (metadata-only scan)
            self._refresh_system_views()
            tables = [t for t in self.table_specs if re.search(rf"\b{t}\b", inner)]
            meta = {
                r["name"]: (r["n_files"], r["bytes"])
                for r in self.spark.table("system_parts")
                .where(F.col("name").isin(tables)).collect()
            }
            rows = [
                (
                    t,
                    int(meta.get(t, (0, 0))[0]),
                    self.spark.table(t).count(),
                    int(meta.get(t, (0, 0))[1]),
                )
                for t in tables
            ]
            return self.spark.createDataFrame(
                rows, "table string, parts long, rows long, bytes long"
            )
        if kind == "PIPELINE":
            return self.spark.sql(f"EXPLAIN FORMATTED {inner}")
        return self.spark.sql(f"EXPLAIN {inner}")

    def _route_projection(self, sql: str) -> str:
        """ClickHouse-style automatic projection selection, for the safe
        subset: a single-table ``SELECT dims+aggs FROM t [WHERE on dims]
        GROUP BY dims [HAVING/ORDER BY/LIMIT]`` whose aggregates are all
        derivable from one projection's partial states is rewritten to
        scan ``t__proj_<name>_parts`` (one row per insert batch × dims)
        instead of the fact table, re-aggregating the mergeable partials
        (sum/count re-sum, min/max re-min/max, avg = sum/count).  GROUP BY
        any SUBSET of the projection dims works — exactly the rollups the
        projection exists to serve.  Anything that doesn't validate falls
        through untouched (fail-open): joins, subqueries, non-dim
        predicates, aggregates the projection doesn't carry."""
        if re.search(r"\b(JOIN|UNION|WITH|DISTINCT|OVER)\b", sql, re.I):
            return sql
        m = re.search(r"\bFROM\s+(\w+)\b", sql, re.I)
        if not m or sql[: m.start()].count("(") != sql[: m.start()].count(")"):
            return sql
        table = m.group(1)
        spec = self.table_specs.get(table)
        if spec is None or not spec.projections:
            return sql
        base_cols = {f.name for f in spec.schema.fields}
        for proj in spec.projections:
            if not proj.is_aggregate:
                continue
            new = sql
            ok = True
            for func, col, alias in proj.aggs:
                if func == "count":
                    pat = r"\bcount\s*\(\s*\*?\s*\)"
                    rep = f"sum(__cnt_{alias})"
                elif func == "avg":
                    pat = rf"\bavg\s*\(\s*`?{re.escape(col)}`?\s*\)"
                    rep = f"(sum(__sum_{alias}) / sum(__cnt_{alias}))"
                elif func == "sum":
                    pat = rf"\bsum\s*\(\s*`?{re.escape(col)}`?\s*\)"
                    rep = f"sum(__sum_{alias})"
                else:
                    pat = rf"\b{func}\s*\(\s*`?{re.escape(col)}`?\s*\)"
                    rep = f"{func}(__{func}_{alias})"
                new = re.sub(pat, rep, new, flags=re.I)
            # any aggregate the projection can't serve -> fall through
            # (identify leftover agg calls not over partial __ columns)
            for am in re.finditer(r"\b(sum|min|max|avg|count)\s*\(\s*([^)]*)\)", new, re.I):
                if not am.group(2).strip().startswith("__"):
                    ok = False
                    break
            if ok:
                # every base-table column still referenced must be a dim
                ids = set(re.findall(r"[A-Za-z_]\w*", new))
                if (ids & base_cols) - set(proj.dims):
                    ok = False
            if new == sql or "*" in new:
                # the partial-state rows answer only the projection's
                # aggregates: a query with none of them, or a `*`, reads
                # rows (or state columns) that are not the table's
                ok = False
            if ok:
                return re.sub(
                    rf"\bFROM\s+{table}\b",
                    f"FROM {table}__proj_{proj.name}_parts",
                    new,
                    flags=re.I,
                )
        return sql

    # -- INSERT statements -------------------------------------------------
    def _insert_json(self, table: str, payload: str) -> DataFrame:
        """The ClickHouse CLI ingestion idiom
        ``INSERT INTO <table> FORMAT JSONEachRow\\n{json}\\n{json}...``:
        the inline payload decodes against the migrated table's DECLARED
        schema (from_json — malformed rows become NULL columns exactly
        like the streaming decode path) and appends under the table's
        MergeTree-equivalent write policy."""
        spec = self._declared(table)
        lines = [ln for ln in payload.splitlines() if ln.strip()]
        raw = self.spark.createDataFrame([(ln,) for ln in lines], "j string")
        decoded = raw.select(
            F.from_json("j", spec.schema).alias("r")
        ).select("r.*")
        return self._append(table, decoded, len(lines))

    def _insert_format(self, table: str, fmt: str, payload: str) -> DataFrame:
        """The clickhouse-client inline-payload formats beyond
        JSONEachRow and Values (r8 probe batch 51): CSV[WithNames],
        TSV/TabSeparated[WithNames], JSONCompactEachRow (positional
        JSON arrays) and TSKV (key=value pairs). Text rows decode
        against the declared schema positionally (WithNames headers
        reorder by name), then append under the table's write policy —
        the same path as JSONEachRow. RowBinary/Native stay refused:
        binary wire formats belong to the streaming decode path."""
        spec = self._declared(table)
        f = fmt.lower()
        declared = [fl.name for fl in spec.schema.fields]
        header: list[str] | None = None
        # rows hold str (literal value) or None (NULL); the per-format
        # branches own the NULL spelling — quoted "" in CSV and a bare
        # empty TSV/JSON field are empty STRINGS, not NULLs (they were
        # conflated before; ADVICE r8)
        rows: list[list] = []

        def _ch_unescape(v: str) -> str | None:
            # clickhouse-client TSV escapes: \t \n \r \\ \0 \b \f \' \"
            # and the \N NULL marker
            if v == r"\N":
                return None
            if "\\" not in v:
                return v
            out, i = [], 0
            sub = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\", "0": "\0",
                   "b": "\b", "f": "\f", "'": "'", '"': '"'}
            while i < len(v):
                if v[i] == "\\" and i + 1 < len(v):
                    out.append(sub.get(v[i + 1], v[i + 1]))
                    i += 2
                else:
                    out.append(v[i])
                    i += 1
            return "".join(out)

        if f in ("csv", "csvwithnames"):
            # quoted fields may span lines — a hand-rolled RFC-4180
            # splitter that reports per-field quoting. A quoted empty
            # field ("") is an empty STRING; an unquoted empty field
            # (or \N) is NULL. csv.reader erases the quoting, and the
            # old textual "" pre-pass couldn't tell an escaped double-
            # quote INSIDE a quoted field from a quoted-empty field
            # between delimiters ('1,"x,"",z"' corrupted — ADVICE r9),
            # so the splitter tracks quote state directly.
            def _csv_rows(raw: str):
                out_rows: list[list[tuple[str, bool]]] = []
                row: list[tuple[str, bool]] = []
                buf: list[str] = []
                in_q = False       # inside a quoted field now
                was_q = False      # current field started quoted
                started = False    # current field has content/quoting
                i, n = 0, len(raw)
                while i < n:
                    c = raw[i]
                    if in_q:
                        if c == '"':
                            if i + 1 < n and raw[i + 1] == '"':
                                buf.append('"')
                                i += 2
                                continue
                            in_q = False
                            i += 1
                            continue
                        buf.append(c)
                        i += 1
                        continue
                    if c == '"' and not buf:
                        in_q = was_q = started = True
                        i += 1
                        continue
                    if c == ",":
                        row.append(("".join(buf), was_q))
                        buf, was_q, started = [], False, False
                        i += 1
                        continue
                    if c in "\r\n":
                        if row or buf or started:
                            row.append(("".join(buf), was_q))
                            out_rows.append(row)
                        row, buf, was_q, started = [], [], False, False
                        i += 2 if c == "\r" and raw[i:i + 2] == "\r\n" else 1
                        continue
                    buf.append(c)
                    started = True
                    i += 1
                if in_q:
                    raise ValueError(
                        "unterminated quoted CSV field in inline INSERT"
                    )
                if row or buf or started:
                    row.append(("".join(buf), was_q))
                    out_rows.append(row)
                return out_rows

            parsed_q = _csv_rows(payload.lstrip("\r\n"))
            if f == "csvwithnames":
                header = [v for v, _ in parsed_q[0]]
                parsed_q = parsed_q[1:]
            rows = [
                [
                    v if q
                    else None if v in ("", r"\N")
                    else v
                    for v, q in r
                ]
                for r in parsed_q
            ]
        elif f in ("tsv", "tabseparated", "tsvwithnames",
                   "tabseparatedwithnames"):
            # real newlines separate rows (embedded ones are escaped \n)
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            parsed = [
                [_ch_unescape(v) for v in ln.split("\t")] for ln in lines
            ]
            if f.endswith("withnames"):
                header, parsed = [str(h) for h in parsed[0]], parsed[1:]
            rows = parsed
        elif f == "jsoncompacteachrow":
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            rows = [json.loads(ln) for ln in lines]
        elif f == "tskv":
            lines = [ln for ln in payload.splitlines() if ln.strip()]
            dicts = []
            for ln in lines:
                d = dict(
                    kv.split("=", 1) for kv in ln.split("\t") if "=" in kv
                )
                dicts.append([
                    _ch_unescape(d[c]) if c in d else None
                    for c in declared
                ])
            rows = dicts
        if header is not None:
            order = [header.index(c) for c in declared if c in header]
            if len(order) != len(declared):
                raise ValueError(
                    f"FORMAT {fmt}: header {header} does not cover the"
                    f" declared columns {declared}"
                )
            rows = [[r[i] for i in order] for r in rows]
        bad = [r for r in rows if len(r) != len(declared)]
        if bad:
            raise ValueError(
                f"FORMAT {fmt}: row arity {len(bad[0])} !="
                f" {len(declared)} declared columns: {bad[0]!r}"
            )
        # all-string rows -> declared types via the same cast path a
        # from_json decode takes (try-cast semantics stay loud: a bad
        # literal fails the job, like clickhouse-client)
        str_df = self.spark.createDataFrame(
            [[None if v is None else str(v) for v in r] for r in rows],
            ", ".join(f"{c} string" for c in declared),
        )
        decoded = str_df.select(
            *[
                F.col(fl.name).cast(fl.dataType).alias(fl.name)
                for fl in spec.schema.fields
            ]
        )
        return self._append(table, decoded, len(rows))

    def _insert_values(self, table: str, col_list: str | None, values: str) -> DataFrame:
        """``INSERT INTO t [(cols)] VALUES (..), (..)`` — the clickhouse-
        client literal form, also spelled ``FORMAT Values``.  Tuples
        parse at paren/quote depth (string literals may contain
        commas/parens), values resolve as one SELECT over a VALUES
        clause so expressions (now(), arithmetic) work, then the batch
        appends through the normal insert path, firing MV triggers."""
        spec = self._declared(table)
        cols = (
            [c.strip().strip("`") for c in ddl._split_top(col_list.strip("() "))]
            if col_list
            else [f.name for f in spec.schema.fields]
        )
        tuples = [t.strip() for t in ddl._split_top(values) if t.strip()]
        bad = [t for t in tuples if not (t.startswith("(") and t.endswith(")"))]
        if bad:
            raise ValueError(f"malformed VALUES tuple(s): {bad[:3]}")
        sql = " UNION ALL ".join(
            "SELECT " + ", ".join(
                f"{expr.strip()} AS `{c}`"
                for c, expr in zip(cols, ddl._split_top(t[1:-1]))
            )
            for t in tuples
        )
        result = self.spark.sql(sql)
        for f in spec.schema.fields:
            if f.name in result.columns:
                result = result.withColumn(f.name, F.col(f.name).cast(f.dataType))
            else:
                # omitted columns: NULL unless a DEFAULT/MATERIALIZED
                # expression fills them in append_rows
                result = result.withColumn(f.name, F.lit(None).cast(f.dataType))
        return self._append(table, result, len(tuples))

    def _insert_select(
        self, table: str, cols: str | None, select_sql: str
    ) -> DataFrame:
        """``INSERT INTO t [(cols)] SELECT ...`` — the translated
        SELECT runs as one Catalyst job whose result appends under the
        table's write policy (partition dirs + ORDER BY sort), firing
        MV triggers. With an explicit column list (batch-84) the
        SELECT output maps POSITIONALLY onto the listed columns —
        ClickHouse's rule — and unlisted columns fill from
        DEFAULT/MATERIALIZED. Without one, columns match by NAME when
        every declared name is present (robust to reordered SELECTs);
        otherwise, when the arity matches the declared arity, by
        POSITION — which the common computed-expression idiom
        (SELECT a + 100, b) depends on. Arity mismatch (beyond
        DEFAULT/MATERIALIZED backfill) stays fail-loud. The row count
        comes from an Observation on the append job — no second
        scan."""
        spec = self._declared(table)
        result = self.spark.sql(chsql.translate(select_sql, self.table_specs).sql)
        if cols:
            listed = [c.strip().strip('`"') for c in
                      cols.strip()[1:-1].split(",") if c.strip()]
            declared_all = [f.name for f in spec.schema.fields]
            unknown = [c for c in listed if c not in declared_all]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {table} (...) names unknown columns"
                    f" {unknown}"
                )
            if len(result.columns) != len(listed):
                raise ValueError(
                    f"INSERT INTO {table} ({', '.join(listed)}) expects"
                    f" {len(listed)} SELECT columns,"
                    f" got {len(result.columns)}"
                )
            result = result.toDF(*listed)
        declared = [f.name for f in spec.schema.fields]
        # positional mapping (r8): ClickHouse matches INSERT SELECT
        # columns by POSITION, and the common idiom projects computed
        # expressions (SELECT a + 100, b) whose generated names match
        # nothing. When the arity equals the declared arity but the
        # NAMES don't all line up, rename by position — exactly what
        # CH executes. When every name lines up, keep the name map
        # (robust to a reordered SELECT); arity mismatch stays the
        # fail-loud path below.
        if (
            len(result.columns) == len(declared)
            and set(result.columns) != set(declared)
        ):
            result = result.toDF(*declared)
        missing = [c for c in declared if c not in result.columns]
        computed = {
            c for c, (kind, _e) in spec.col_exprs.items() if kind == "MATERIALIZED"
        } | {c for c, (kind, _e) in spec.col_exprs.items() if kind == "DEFAULT"}
        hard_missing = [c for c in missing if c not in computed]
        if hard_missing:
            raise ValueError(
                f"INSERT SELECT into {table!r} is missing columns "
                f"{hard_missing} (no DEFAULT/MATERIALIZED to fill them)"
            )
        for f in spec.schema.fields:
            if f.name in result.columns:
                result = result.withColumn(f.name, F.col(f.name).cast(f.dataType))
        obs = Observation(f"ins_{table}")
        result = result.observe(obs, F.count(F.lit(1)).alias("n"))
        return self._append(table, result, obs)

    # -- DDL and mutation statements --------------------------------------
    # Routed onto ddl.py and the mutation / compaction operators
    # (operators/mutate.py) so the spellings a reference user runs work
    # verbatim. Expressions go through F.expr with the ClickHouse SQL
    # spellings registered, so ``toDate(ts) = '2024-01-01'`` works. All
    # mutation paths are partition-selective (never a full-table rewrite
    # unless every partition matches); views are re-registered
    # afterwards, and each statement returns a _status row.
    def _create_table_as(self, name: str, head: str, select_sql: str) -> DataFrame:
        """``CREATE TABLE t [ENGINE = ...] [ORDER BY ...] [PARTITION BY
        ...] AS SELECT ...``: the result schema is inverse-mapped to
        ClickHouse column types and assembled into canonical DDL, so CTAS
        reuses the exact provisioning path migrations take (engine merge
        semantics, write policy, views).  The SELECT then appends through
        the normal insert path (one job; MV triggers don't apply — the
        new table has none)."""
        if name in self.table_specs:
            raise ValueError(f"table {name!r} already exists")
        result = self.spark.sql(chsql.translate(select_sql, self.table_specs).sql)
        cols = ",\n  ".join(
            f"`{f.name}` {ddl.spark_type_to_ch(f.dataType)}"
            for f in result.schema.fields
        )
        head = head.strip()
        if not re.search(r"\bENGINE\s*=", head, re.I):
            head = f"ENGINE = MergeTree()\n{head}" if head else "ENGINE = MergeTree()"
        synthesized = f"CREATE TABLE {name} (\n  {cols}\n) {head}"
        spec = ddl.parse_clickhouse_ddl(synthesized)
        ddl.provision_table(self.spark, spec, self.warehouse)
        self.table_specs[name] = spec
        return self._insert_select(name, None, select_sql)

    def _create_table_like(self, or_replace, if_not_exists, name: str, src: str) -> DataFrame:
        # structure clone (CREATE TABLE a AS b): same spec, empty data
        src_spec = self._spec_of(src)
        if name in self.table_specs:
            if if_not_exists:
                return self._status(name, "create_table", 0)
            if not or_replace:
                raise ValueError(f"table {name!r} already exists")
            self._drop_table(name)
        spec = replace(src_spec, name=name, projections=[])
        ddl.provision_table(self.spark, spec, self.warehouse)
        self.table_specs[name] = spec
        return self._status(name, "create_table", 1)

    def _create_table(self, stmt: str, or_replace, if_not_exists, name: str) -> DataFrame:
        # ad-hoc CREATE TABLE through ch_sql — the same ddl.py
        # parse/provision path migrate() runs, so a reference
        # user's interactive DDL works without a migration file
        if name in self.table_specs:
            if if_not_exists:
                return self._status(name, "create_table", 0)
            if not or_replace:
                raise ValueError(
                    f"table {name!r} already exists — use"
                    " CREATE OR REPLACE TABLE or IF NOT EXISTS"
                )
            self._drop_table(name)
        spec = ddl.parse_clickhouse_ddl(
            re.sub(r"^CREATE\s+OR\s+REPLACE\s+TABLE", "CREATE TABLE", stmt, flags=re.I)
        )
        ddl.provision_table(self.spark, spec, self.warehouse)
        self.table_specs[spec.name] = spec
        return self._status(spec.name, "create_table", 1)

    def _create_matview(self, stmt: str) -> DataFrame:
        """``CREATE MATERIALIZED VIEW`` from ch_sql and from migration
        files alike; POPULATE backfills from the source's current
        contents (CH semantics: without it the MV only sees future
        inserts)."""
        populate = bool(re.search(r"\bPOPULATE\b", stmt, re.I))
        stmt = re.sub(r"\bPOPULATE\b", "", stmt, flags=re.I)
        tm = _MV_TO.match(stmt)
        if tm:
            # the TO form: partials land in the NAMED table (the
            # classic MV -> AggregatingMergeTree rollup pair). The
            # body — typically -State aggregates — re-runs through
            # the dialect per inserted batch and appends under the
            # target's write policy; reads then hit the target
            # table's own merged view with -Merge spellings.
            mv = _ToTableMV(self, tm.group(1), tm.group(2), tm.group(3))
            if mv.to_table not in self.table_specs:
                raise KeyError(
                    f"TO table {mv.to_table!r} does not exist —"
                    " CREATE it first (ClickHouse requires the"
                    " same)"
                )
            if populate:
                # ClickHouse rejects POPULATE with the TO clause
                # ("POPULATE is not supported with TO [db].[table]")
                # — match it; backfill with an explicit
                # INSERT INTO target SELECT ... instead
                raise ValueError(
                    "POPULATE is not allowed with"
                    " CREATE MATERIALIZED VIEW ... TO (ClickHouse"
                    " rejects it too) — backfill the target with"
                    " INSERT INTO ... SELECT"
                )
            self.matviews[mv.spec.name] = mv
            self._refresh(mv.spec.name)
            return self._status(mv.spec.name, "create_materialized_view", 0)
        mspec = ddl.parse_materialized_view(stmt)
        mv = ddl.MatView(self.spark, mspec, self.warehouse)
        self.matviews[mspec.name] = mv
        if populate:
            mv.on_batch(self.spark.table(mspec.source))
        self._refresh(mspec.name)
        return self._status(mspec.name, "create_materialized_view", 1 if populate else 0)

    def _create_view(self, name: str, body: str) -> DataFrame:
        # plain views: the body is CLICKHOUSE dialect — translate
        # it once and register the Spark SQL as a temp view
        body = chsql.translate(body, self.table_specs).sql
        self.spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {body}")
        return self._status(name, "create_view", 1)

    def _drop_view(self, name: str) -> DataFrame:
        existed = self.spark.catalog.dropTempView(name)
        self._refresh(name)
        return self._status(name, "drop_view", 1 if existed else 0)

    def _exchange_tables(self, a: str, b: str) -> DataFrame:
        # atomic name swap: every directory of both footprints moves
        # through a temporary name (projection partials travel with
        # their table), then the specs swap
        sa, _pa = self._table(a)
        sb, _pb = self._table(b)
        if sa is None or sb is None:
            raise KeyError(f"EXCHANGE TABLES: no spec for {a!r}/{b!r}")
        tmp = f"{a}.__xchg"
        self._move(a, tmp, _projection_names(sa))
        self._move(b, a, _projection_names(sb))
        self._move(tmp, b, _projection_names(sa))
        na, nb = replace(sb, name=a), replace(sa, name=b)
        self.table_specs[a], self.table_specs[b] = na, nb
        ddl.register_view(self.spark, na, self.warehouse)
        ddl.register_view(self.spark, nb, self.warehouse)
        return self._status(a, f"exchange_tables:{b}", 2)

    def _detach_table(self, name: str) -> DataFrame:
        # metadata-only: the files stay, the name stops resolving
        spec = self.table_specs.pop(name, None)
        if spec is None:
            return self._status(name, "detach_table", 0)
        self._detached[name] = spec
        self._unlink(self._footprint(name, _projection_names(spec)), keep_files=True)
        return self._status(name, "detach_table", 1)

    def _attach_table(self, name: str) -> DataFrame:
        spec = self._detached.pop(name, None)
        if spec is None:
            raise KeyError(
                f"table {name!r} is not detached — ATTACH"
                " re-registers a DETACHed table's files"
            )
        self.table_specs[name] = spec
        ddl.register_view(self.spark, spec, self.warehouse)
        return self._status(name, "attach_table", 1)

    def _freeze(self, table: str, label) -> DataFrame:
        # snapshot via hardlinks under <warehouse>/shadow/<label>/,
        # exactly ClickHouse's FREEZE mechanism (copy2 fallback for
        # filesystems without link support)
        _spec, path = self._table(table)
        shadow_root = os.path.join(self.warehouse, "shadow")
        os.makedirs(shadow_root, exist_ok=True)
        label = label or str(len(os.listdir(shadow_root)) + 1)
        dest_root = os.path.join(shadow_root, label, table)
        n = 0
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            dest = os.path.join(dest_root, rel)
            os.makedirs(dest, exist_ok=True)
            for fn in files:
                dst = os.path.join(dest, fn)
                if os.path.exists(dst):
                    continue
                try:
                    os.link(os.path.join(root, fn), dst)
                except OSError:
                    shutil.copy2(os.path.join(root, fn), dst)
                n += 1
        return self._status(table, f"freeze:{label}", n)

    def _modify_comment(self, table: str) -> DataFrame:
        # table comments are metadata-only, like COMMENT COLUMN
        return self._status(table, "modify_comment", 1)

    def _materialize_column(self, table: str, col: str) -> DataFrame:
        # MATERIALIZED/DEFAULT expressions are computed on READ here
        # (the served view), so a file backfill is semantically a
        # no-op — accepted so CH maintenance scripts run unchanged
        return self._status(table, f"materialize_column:{col}", 0)

    def _mutated(self, table: str, op: str, n) -> DataFrame:
        """Close a data rewrite: rebuild the table's projections and
        re-register its views."""
        self._rebuild_projections(table)
        self._refresh(table)
        return self._status(table, op, n)

    def _rebuild_projections(self, table: str) -> None:
        # Mutations invalidate insert-time partial states; like
        # ClickHouse (which rebuilds or drops projection parts on
        # mutations), rebuild each projection from the current base —
        # one pass over the mutated table, not the history.
        spec = self.table_specs.get(table)
        if spec is None or not spec.projections:
            return
        base = self.spark.read.parquet(os.path.join(self.warehouse, table))
        for proj in spec.projections:
            ddl.projection_batch(base, proj).write.mode("overwrite").parquet(
                ddl.projection_path(self.warehouse, table, proj.name)
            )

    @staticmethod
    def _read_args(spec):
        # rename-aware rewrite args (both column spellings read and
        # canonicalized); path-only tables fall back to mergeSchema
        # inside the mutation helpers
        return ddl.mutation_read_args(spec) if spec is not None else (None, None)

    def _mut_pred(self, where: str, path: str, part):
        # mutation predicates CAST to BOOLEAN (batch-85): CH treats any
        # nonzero numeric as true (ALTER ... WHERE 1), where Spark's
        # ANSI filter demands a boolean — the cast is a no-op on real
        # predicates and CH-exact on numerics. The optional
        # `IN PARTITION 'v'` clause folds into the predicate as a
        # partition-column equality, which _affected_partitions prunes
        # on — the metadata-speed path CH users expect.
        pred = F.expr(where).cast("boolean")
        if part is not None:
            pc = _mut._partition_col(self.spark, path)
            if pc is None:
                raise ValueError("IN PARTITION on an unpartitioned table")
            pred = pred & (F.col(pc) == part)
        return pred

    def _delete(self, table: str, part, where: str) -> DataFrame:
        # ALTER TABLE t DELETE and the lightweight DELETE FROM t share
        # one path: identical end state here (no mask column —
        # mutations are synchronous)
        spec, path = self._table(table)
        rs, cf = self._read_args(spec)
        n = _mut.delete_where(
            self.spark, path, self._mut_pred(where, path, part),
            read_schema=rs, conform=cf,
        )
        return self._mutated(table, "delete", n)

    def _update(self, table: str, sets: str, part, where: str) -> DataFrame:
        spec, path = self._table(table)
        assignments = {}
        for item in ddl._split_top(sets):
            col, expr = item.split("=", 1)
            assignments[col.strip().strip("`")] = F.expr(expr.strip())
        rs, cf = self._read_args(spec)
        n = _mut.update_where(
            self.spark, path, self._mut_pred(where, path, part), assignments,
            read_schema=rs, conform=cf,
        )
        return self._mutated(table, "update", n)

    def _drop_partition(self, table: str, value: str) -> DataFrame:
        _spec, path = self._table(table)
        ok = _mut.drop_partition(self.spark, path, value)
        return self._mutated(table, "drop_partition", 1 if ok else 0)

    def _truncate(self, table: str) -> DataFrame:
        _spec, path = self._table(table)
        schema = self.spark.read.parquet(path).schema
        shutil.rmtree(path, ignore_errors=True)
        self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
        return self._mutated(table, "truncate", 0)

    def _kill_mutation(self) -> DataFrame:
        # mutations run synchronously inside ch_sql — there is
        # never a pending mutation to kill
        return self._status("", "kill_mutation", 0)

    def _system_merges(self, verb: str, table) -> DataFrame:
        # merges happen only inside OPTIMIZE here — no background
        # scheduler to pause
        return self._status(table or "", f"{verb.lower()}_merges", 0)

    def _flush_logs(self) -> DataFrame:
        # the query log is in-memory and always current
        return self._status("", "flush_logs", len(self._query_log))

    def _reload_dictionaries(self, name) -> DataFrame:
        # dictionaries snapshot their source at CREATE; re-running
        # CREATE DICTIONARY is the refresh (LIFETIME stance)
        return self._status(name or "", "reload_dictionaries", len(_dic._DICTS))

    def _drop_cache(self) -> DataFrame:
        self.spark.catalog.clearCache()
        return self._status("", "drop_cache", 1)

    def _check_table(self, table: str) -> DataFrame:
        # readability pass over every file (the role CH's checksum
        # verification plays); raises on a corrupt footer
        _spec, path = self._table(table)
        self.spark.read.parquet(path).count()
        return self._status(table, "check_table", 1)

    def _drop_table(self, name: str) -> DataFrame:
        existed = os.path.isdir(os.path.join(self.warehouse, name))
        dropped = self.table_specs.pop(name, None)
        self._unlink(self._footprint(name, _projection_names(dropped)))
        return self._status(name, "drop_table", 1 if existed else 0)

    def _rename_table(self, old: str, new: str) -> DataFrame:
        spec, _path = self._table(old)
        self._move(old, new, _projection_names(spec))
        self.table_specs.pop(old, None)
        if spec is not None:
            self.table_specs[new] = replace(spec, name=new)
        self._refresh(new)
        return self._status(new, "rename_table", 1)

    def _alter_column(self, stmt: str, table: str, verb: str) -> DataFrame:
        spec = ddl.apply_alter(self.spark, stmt, self.table_specs, self.warehouse)
        self.table_specs[spec.name] = spec
        self._refresh(spec.name)
        return self._status(spec.name, f"{verb.lower()}_column", 1)

    def _add_projection(self, table: str, clause: str) -> DataFrame:
        spec = self._spec_of(table)
        proj = ddl._parse_projection(clause)
        if any(p.name == proj.name for p in spec.projections):
            raise ValueError(f"projection {proj.name!r} already exists")
        spec.projections.append(proj)
        # backfill (≙ MATERIALIZE PROJECTION): one pass over the
        # existing table builds the initial partial states; later
        # inserts maintain them incrementally
        base = self.spark.read.parquet(os.path.join(self.warehouse, table))
        ddl.projection_batch(base, proj).write.mode("overwrite").parquet(
            ddl.projection_path(self.warehouse, table, proj.name)
        )
        self._refresh(table)
        return self._status(table, f"add_projection:{proj.name}", 1)

    def _drop_projection(self, table: str, name: str) -> DataFrame:
        spec = self._spec_of(table)
        keep = [p for p in spec.projections if p.name != name]
        existed = len(keep) != len(spec.projections)
        spec.projections[:] = keep
        # the projection's own (directory, views) pair — not the table's
        self._unlink(self._footprint(table, [name])[1:])
        self._refresh(table)
        return self._status(table, f"drop_projection:{name}", 1 if existed else 0)

    def _modify_ttl(self, table: str, col: str, n: str, unit: str) -> DataFrame:
        # update the eviction policy; enforcement stays on-demand
        # (apply_ttl), exactly like the CREATE-time TTL clause
        spec = replace(self._spec_of(table), ttl=(col, int(n), unit.upper()))
        self.table_specs[spec.name] = spec
        self._refresh(spec.name)
        return self._status(spec.name, "modify_ttl", 1)

    def _comment_column(self, table: str) -> DataFrame:
        # column comments are metadata-only in ClickHouse; accepted
        # as a no-op so migration scripts run unchanged
        return self._status(table, "comment_column", 1)

    def _optimize(self, table: str, part, dedup, by) -> DataFrame:
        spec, path = self._table(table)
        sort_cols = [c for c in (spec.order_by if spec else []) if c]
        dedup_cols = None
        if by:
            dedup_cols = [
                c.strip().strip("`")
                for c in by.strip().strip("()").split(",")
                if c.strip()
            ]
        rs, cf = self._read_args(spec)
        n = _mut.compact_partitions(
            self.spark,
            path,
            sort_cols=sort_cols or None,
            partitions=[part] if part else None,
            dedup=bool(dedup),
            dedup_cols=dedup_cols,
            read_schema=rs,
            conform=cf,
        )
        # OPTIMIZE also merges projection partial states down to one
        # row per dims (ClickHouse's background merges do the same
        # for projection parts)
        if spec is not None:
            for proj in spec.projections:
                ddl.compact_projection(self.spark, spec, proj, self.warehouse)
        self._refresh(table)
        return self._status(table, "optimize", n)

    def _create_dictionary(self, name: str, cols_txt: str, key: str, src: str) -> DataFrame:
        # ClickHouse external dictionary over a warehouse table.
        # LAYOUT(...) is parsed-and-ignored — every layout maps to
        # the broadcast lookup (operators/dictionary.py, size-
        # guarded); LIFETIME refresh = re-running CREATE DICTIONARY.
        cols = [
            c.strip().split()[0].strip("`")
            for c in ddl._split_top(cols_txt)
            if c.strip()
        ]
        _dic.register_dict(name, self.spark.table(src).select(*cols), key)
        return self._status(name, "create_dictionary", len(cols))

    def _drop_dictionary(self, name: str) -> DataFrame:
        existed = name in _dic._DICTS
        _dic._DICTS.pop(name, None)
        _dic._SIZE_OK.discard(name)
        self.spark.catalog.dropTempView(f"dict_{name}")
        return self._status(name, "drop_dictionary", 1 if existed else 0)

    def table(self, name: str) -> DataFrame:
        """``dlq``, or a family or declared table as SQL serves it."""
        if name == "dlq":
            return self._dlq()
        if table_spec(name, self.table_specs) is None:
            raise KeyError(f"unknown table {name!r}; known: {sorted(BY_TABLE)} + ['dlq']")
        self._refresh(name)
        return self.spark.table(name)

    def rollup(self, table: str, dest: str, dims: list[str], aggs: dict[str, str]):
        """Materialized daily rollup over one event table (≙ a ClickHouse
        materialized view): returns an IncrementalRollup; call .refresh()
        after ingests. Only new/changed day partitions re-aggregate."""
        from ed_clickhouse_spark.operators.rollup import IncrementalRollup

        if table not in BY_TABLE:
            raise KeyError(f"unknown table {table!r}")
        return IncrementalRollup(
            self.spark,
            os.path.join(self.warehouse, table),
            os.path.join(self.warehouse, dest),
            dims=dims,
            aggs=aggs,
        )

    def matview(
        self,
        name: str,
        table: str,
        dims: list[str],
        **spec,
    ):
        """Streaming materialized view over one event table — ClickHouse
        ``CREATE MATERIALIZED VIEW ... ENGINE = AggregatingMergeTree``
        (streaming/matview.py). Pass the result in ``views={table:
        [mv]}`` to :meth:`ingest` so every ingested micro-batch appends
        its partial states at insert time; query with ``mv.read()``."""
        from ed_clickhouse_spark.streaming.matview import StreamingMatView

        if table not in BY_TABLE:
            raise KeyError(f"unknown table {table!r}")
        return StreamingMatView(
            self.spark,
            os.path.join(self.warehouse, "_views", name),
            dims=dims,
            **spec,
        )

    def replay_dlq(self, reasons: list[str] | None = None) -> int:
        """Re-ingest dead-letter rows after a fix (new family registered,
        decoder bug patched): routes each retained (subject, payload) back
        through process_batch.  Rows that fail AGAIN land back in the DLQ
        via the normal classifier, so replay is safe to iterate.  The
        reference has no equivalent — it Terms bad messages forever
        (src/main.rs:70, src/handler.rs:130); a queryable, replayable DLQ
        is the strict upgrade.  Returns rows replayed.

        ``reasons`` restricts the replay (e.g. just "unroutable_subject"
        after adding a family); the rest stay in the DLQ untouched."""
        from ed_clickhouse_spark.streaming.pipeline import process_batch

        dlq_path = os.path.join(self.warehouse, DLQ_TABLE)
        if not os.path.exists(dlq_path):
            return 0
        dlq = self._dlq()
        to_replay = dlq if reasons is None else dlq.filter(F.col("reason").isin(reasons))
        n = to_replay.count()
        if n == 0:
            return 0
        keep = (
            dlq.filter(~F.col("reason").isin(reasons)) if reasons is not None else None
        )
        batch = to_replay.select("subject", F.col("raw_payload").alias("payload"))
        # Detach BOTH frames from the _dlq file scan before touching the
        # directory: a cache is not enough — writing to a path invalidates
        # every cached plan that scans it, so the replay batch would
        # silently recompute against the truncated DLQ (observed: 0 rows
        # replayed). localCheckpoint materializes to executor-local blocks
        # with no file lineage.
        batch = batch.localCheckpoint(eager=True)
        staged = keep.localCheckpoint(eager=True) if keep is not None else None
        shutil.rmtree(dlq_path)
        if staged is not None:
            ddl.append_rows(staged, DLQ_SPEC, self.warehouse)
        process_batch(batch, self.warehouse, **self._stream_kw({}))
        self.refresh_views()
        return n

    def parts(self) -> DataFrame:
        """≙ ClickHouse ``system.parts``: one row per (table, partition
        directory) with file count and bytes — the operational view that
        drives OPTIMIZE decisions (operators/mutate.py:compact_partitions).
        Driver-side Hadoop-FS listing only; no data read."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        rows = []
        root = jvm.org.apache.hadoop.fs.Path(self.warehouse)
        fs = root.getFileSystem(conf)
        if fs.exists(root):
            for tdir in fs.listStatus(root):
                if not tdir.isDirectory():
                    continue
                table = tdir.getPath().getName()
                if table.startswith(("_", ".")):
                    continue
                parts = [p for p in fs.listStatus(tdir.getPath()) if p.isDirectory()
                         and "=" in p.getPath().getName()]
                groups = parts if parts else [tdir]
                for g in groups:
                    pname = g.getPath().getName() if parts else ""
                    n, nbytes = 0, 0
                    for f in fs.listStatus(g.getPath()):
                        fn = f.getPath().getName()
                        if f.isFile() and not fn.startswith(("_", ".")):
                            n += 1
                            nbytes += f.getLen()
                    rows.append((table, pname, n, nbytes))
        return self.spark.createDataFrame(
            rows, "table string, partition string, n_files long, bytes long"
        )

    def system_tables(self) -> DataFrame:
        """≙ ClickHouse ``system.tables``: one row per provisioned table
        with its engine, partition/sorting keys and on-disk size.

        Metadata-only: bytes come from a driver-side Hadoop-FS listing
        (never a data scan) and row counts from parquet footers (local
        warehouses; NULL where footers aren't reachable without a job —
        at 100 TB a `SELECT total_rows` must not cost a table scan)."""
        sizes = {
            r["table"]: (r["files"], r["bytes"])
            for r in self.parts()
            .groupBy("table")
            .agg(F.sum("n_files").alias("files"), F.sum("bytes").alias("bytes"))
            .collect()
        }
        rows = []
        for name, spec in sorted(self.table_specs.items()):
            n_files, nbytes = sizes.get(name, (0, 0))
            rows.append(
                (
                    "default",
                    name,
                    spec.engine,
                    spec.partition_by or "",
                    ", ".join(spec.order_by),
                    nbytes,
                    self._footer_rows(os.path.join(self.warehouse, name)),
                    n_files,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "database string, name string, engine string, "
            "partition_key string, sorting_key string, total_bytes long, "
            "total_rows long, parts long",
        )

    def system_columns(self) -> DataFrame:
        """≙ ClickHouse ``system.columns``: one row per (table, column)
        with the declared ClickHouse type and key membership flags."""
        rows = []
        for name, spec in sorted(self.table_specs.items()):
            pcol = spec.partition_column()
            pkey = {pcol[0]} if pcol else set()
            for pos, f in enumerate(spec.schema.fields, start=1):
                rows.append(
                    (
                        name,
                        f.name,
                        spec.ch_types.get(f.name, f.dataType.simpleString()),
                        pos,
                        f.name in spec.key_cols,
                        f.name in pkey or f.name == (spec.partition_by or ""),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "table string, name string, type string, position long, "
            "is_in_sorting_key boolean, is_in_partition_key boolean",
        )

    def system_functions(self) -> DataFrame:
        """≙ ClickHouse ``system.functions``: one row per ClickHouse
        spelling the dialect front-end translates, with the mechanism
        that implements it. Introspection only — the list is assembled
        from the translation tables, so it can't drift from reality."""
        from ed_clickhouse_spark.functions.clickhouse import (
            _SQL_SCALAR_ALIASES,
        )

        rows: list[tuple[str, str]] = []
        rows += [(n, "sql_alias") for n in _SQL_SCALAR_ALIASES]
        rows += [(n, "rename") for n in chsql._SCALAR_RENAMES]
        rows += [(n, "rewrite") for n in chsql._ARRAY_SPLICE]
        rows += [(n, "rewrite") for n in chsql._IDENTITY_FNS]
        rows += [(n, "aggregate") for n in chsql._AGG_NAME_MAP]
        rows += [(n, "aggregate") for n in chsql._AGG_IF_BASES]
        rows += [(n, "rewrite") for n in chsql._HOF_SWAP]
        rows += [(n, "rewrite") for n in chsql._TUPLE_VECTOR_OPS]
        rows += [
            (n, "rewrite")
            for n in (
                "untuple", "tupleConcat", "tupleNegate",
                "tupleHammingDistance", "pointInPolygon",
            )
        ]
        rows += [
            (f"{b}{suffix}", "aggregate")
            for b in ("sum", "min", "max", "avg", "count")
            for suffix in ("ForEach", "ForEachIf")
        ]
        rows += [
            (n, "aggregate")
            for n in (
                "uniqArray", "uniqExactArray", "groupArrayArray",
                "groupUniqArrayArray", "groupArraySample",
                "sumMappedArrays", "minMappedArrays", "maxMappedArrays",
            )
        ]
        seen: dict[str, str] = {}
        for name, origin in rows:
            seen.setdefault(name, origin)
        return self.spark.createDataFrame(
            sorted(seen.items()), "name string, origin string"
        )

    @staticmethod
    def _footer_rows(path: str):
        """Row count from parquet footers (no Spark job). Local paths
        only; returns None elsewhere rather than paying a scan."""
        if not os.path.isdir(path):
            return None
        try:
            import pyarrow.parquet as pq

            total = 0
            for dirpath, _dirs, files in os.walk(path):
                for fn in files:
                    if fn.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(dirpath, fn)
                        ).metadata.num_rows
            return total
        except Exception:
            return None

    def _refresh_system_views(self) -> None:
        """Register the ``system_*`` introspection views a translated
        ``system.<name>`` query reads (chsql rewrites the dot form)."""
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")
        # keep BOTH spellings: CH's system.parts has `table` (the
        # owning table) and `name` (the part); filters on either work
        self.parts().withColumn("name", F.col("table")).createOrReplaceTempView(
            "system_parts"
        )
        self.query_log().createOrReplaceTempView("system_query_log")
        self.system_functions().createOrReplaceTempView("system_functions")
        # single-tenant / synchronous-engine introspection (round-7
        # batch 41): databases is the one namespace; mutations and
        # merges are always-empty (mutations run synchronously inside
        # ch_sql, merges only inside OPTIMIZE); processes shows no
        # concurrent queries; replicas is single-replica-empty;
        # dictionaries/disks/settings carry real values
        spark = self.spark
        spark.createDataFrame(
            [("default", "Atomic")], "name string, engine string"
        ).createOrReplaceTempView("system_databases")
        spark.createDataFrame(
            [],
            "database string, table string, mutation_id string,"
            " command string, is_done int",
        ).createOrReplaceTempView("system_mutations")
        spark.createDataFrame(
            [],
            "query_id string, user string, query string,"
            " elapsed double",
        ).createOrReplaceTempView("system_processes")
        spark.createDataFrame(
            [],
            "database string, table string, progress double,"
            " is_mutation int",
        ).createOrReplaceTempView("system_merges")
        spark.createDataFrame(
            [],
            "database string, table string, is_leader int,"
            " absolute_delay long",
        ).createOrReplaceTempView("system_replicas")
        spark.createDataFrame(
            [(n, "LOADED") for n in sorted(_dic._DICTS)] or [],
            "name string, status string",
        ).createOrReplaceTempView("system_dictionaries")
        du = shutil.disk_usage(
            self.warehouse if os.path.isdir(self.warehouse) else "/"
        )
        spark.createDataFrame(
            [("default", os.path.abspath(self.warehouse),
              du.free, du.total)],
            "name string, path string, free_space long,"
            " total_space long",
        ).createOrReplaceTempView("system_disks")
        confs = sorted(
            (k, v) for k, v in
            ((k, spark.conf.get(k, None)) for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.ansi.enabled",
                "spark.sql.session.timeZone",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.autoBroadcastJoinThreshold",
            )) if v is not None
        )
        spark.createDataFrame(
            confs, "name string, value string"
        ).createOrReplaceTempView("system_settings")

    def ping(self) -> bool:
        """≙ the reference's ClickHouse /ping startup check
        (src/click_house.rs:46-59)."""
        return self.spark.sql("SELECT 1").collect()[0][0] == 1


def _projection_names(spec) -> list[str]:
    return [p.name for p in spec.projections] if spec is not None else []


def _rx(pattern: str, flags: int = 0) -> re.Pattern:
    return re.compile(pattern, re.I | flags)


def _refuse(message: str):
    """Handler for a recognised statement this engine does not run."""
    def refuse(engine, *_groups):
        raise ValueError(message)
    return refuse


_INSERT = _rx(r"INSERT\b")
_CREATE_MV = _rx(r"CREATE\s+MATERIALIZED\s+VIEW")
_MV_TO = _rx(
    r"^CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?"
    r"\s+TO\s+`?(\w+)`?\s+AS\s+((?:SELECT|WITH)\b.+)$",
    re.S,
)

# Every non-query statement Engine.ch_sql runs, as ordered (pattern,
# handler) entries: the first pattern that matches wins, and its groups
# are the handler's arguments after the engine. INSERT forms match the
# raw text (an inline payload's whitespace is data); every other
# pattern matches the statement stripped of blanks and trailing ``;``.
# A handler returns the statement's DataFrame or raises. Text no entry
# matches is a query (chsql.translate -> projection routing -> Spark).
_STATEMENTS: list[tuple[re.Pattern, object]] = [
    # metadata
    (_rx(r"^SHOW\s+PROCESSLIST$"), Engine._show_processlist),
    (_rx(r"^SHOW\s+DICTIONARIES$"), Engine._show_dictionaries),
    (_rx(r"^SHOW\s+SETTINGS(?:\s+(?:I?LIKE)\s+'([^']*)')?$"), Engine._show_settings),
    (_rx(r"^SHOW\s+(?:TEMPORARY\s+)?TABLES\s+(NOT\s+)?(I?LIKE)\s+'([^']*)'$"),
     Engine._show_tables_like),
    (_rx(r"^SHOW\s+GRANTS\b"), Engine._show_grants),
    (_rx(r"^(?:GRANT|REVOKE)\b"), _refuse(
        "GRANT/REVOKE are not implemented — this engine is"
        " single-tenant (no access-control store); enforce"
        " permissions at the lakehouse/catalog layer"
    )),
    (_rx(r"^SHOW\s+CREATE\s+TABLE\s+(\w+)$"), Engine._show_create),
    # the TABLE keyword is optional in clickhouse-client
    (_rx(r"^EXISTS\s+(?:TABLE\s+)?(\w+)$"), Engine._exists),
    (_rx(r"^KILL\s+QUERY\b"), Engine._kill_query),
    (_rx(r"^EXPLAIN\s+(SYNTAX|AST|PIPELINE|PLAN|ESTIMATE)?\s*(.+)$", re.S),
     Engine._explain),
    # INSERT (raw text)
    (_rx(r"^\s*INSERT\s+INTO\s+(\w+)\s+FORMAT\s+"
         r"(CSVWithNames|CSV|TSVWithNames|TSV|TabSeparatedWithNames|"
         r"TabSeparated|JSONCompactEachRow|TSKV)\s*[\n ](.*)$", re.S),
     Engine._insert_format),
    (_rx(r"^\s*INSERT\s+INTO\s+(\w+)\s+FORMAT\s+JSONEachRow\s*\n(.*)$", re.S),
     Engine._insert_json),
    (_rx(r"^\s*INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))?\s*(SELECT\b.*)$", re.S),
     Engine._insert_select),
    (_rx(r"^\s*INSERT\s+INTO\s+(\w+)\s*(\([^)]*\))?\s*(?:FORMAT\s+)?VALUES\s*(.+)$",
         re.S),
     Engine._insert_values),
    (_INSERT, _refuse(
        "only INSERT INTO <table> FORMAT JSONEachRow with an "
        "inline payload or INSERT INTO <table> SELECT ... is "
        "supported; use DataFrame writes or the ingest "
        "pipeline for other paths"
    )),
    # DDL, mutations, SYSTEM
    (_rx(r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(.*?)\s*"
         r"\bAS\s+(SELECT\b.+)$", re.S), Engine._create_table_as),
    (_rx(r"^CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
         r"`?(\w+)`?\s+AS\s+`?(\w+)`?\s*(?:ENGINE\s*=.*)?$", re.S),
     Engine._create_table_like),
    (_rx(r"^(CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
         r"`?(\w+)`?\s*\(.*)$", re.S), Engine._create_table),
    (_rx(r"^(CREATE\s+MATERIALIZED\s+VIEW\b.*)$", re.S), Engine._create_matview),
    (_rx(r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
         r"`?(\w+)`?\s+AS\s+(.+)$", re.S), Engine._create_view),
    (_rx(r"^DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?\s*$"), Engine._drop_view),
    (_rx(r"^EXCHANGE\s+TABLES\s+`?(\w+)`?\s+AND\s+`?(\w+)`?\s*$"),
     Engine._exchange_tables),
    (_rx(r"^DETACH\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?(?:\s+PERMANENTLY)?\s*$"),
     Engine._detach_table),
    (_rx(r"^ATTACH\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*$"),
     Engine._attach_table),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+FREEZE(?:\s+WITH\s+NAME\s+'(\w+)')?\s*$"),
     Engine._freeze),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COMMENT\s+'.*'\s*$", re.S),
     Engine._modify_comment),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+`?(\w+)`?\s*$"),
     Engine._materialize_column),
    (_rx(r"^ALTER\s+TABLE\s+\w+\s+(?:ATTACH|DETACH)\s+PARTITION\b"), _refuse(
        "ALTER ... ATTACH/DETACH PARTITION is not implemented —"
        " there is no detached-parts store here; use ALTER"
        " TABLE t DROP PARTITION to remove data and INSERT /"
        " sources/io.py to add it"
    )),
    (_rx(r"^ALTER\s+TABLE\s+\w+\s+CLEAR\s+COLUMN\b"), _refuse(
        "ALTER ... CLEAR COLUMN is not implemented — run"
        " ALTER TABLE t UPDATE col = <default> WHERE"
        " <partition predicate> (the same rewrite ClickHouse"
        " executes)"
    )),
    (_rx(r"^DELETE\s+FROM\s+(\w+)\s+"
         r"(?:IN\s+PARTITION\s+'?([^'\s]+)'?\s+)?WHERE\s+(.+)$", re.S),
     Engine._delete),
    (_rx(r"^KILL\s+MUTATION\b"), Engine._kill_mutation),
    (_rx(r"^SYSTEM\s+(STOP|START)\s+MERGES(?:\s+`?(\w+)`?)?\s*$"),
     Engine._system_merges),
    (_rx(r"^SYSTEM\s+FLUSH\s+LOGS\s*$"), Engine._flush_logs),
    (_rx(r"^SYSTEM\s+RELOAD\s+DICTIONAR(?:Y\s+`?(\w+)`?|IES)\s*$"),
     Engine._reload_dictionaries),
    (_rx(r"^SYSTEM\s+DROP\s+\w+\s+CACHE\s*$"), Engine._drop_cache),
    (_rx(r"^UNDROP\s+TABLE\b"), _refuse(
        "UNDROP TABLE is not implemented — DROP TABLE deletes"
        " files immediately here (no detached-parts retention);"
        " restore from an ALTER TABLE ... FREEZE snapshot under"
        " <warehouse>/shadow/"
    )),
    (_rx(r"^CHECK\s+TABLE\s+`?(\w+)`?\s*$"), Engine._check_table),
    (_rx(r"^DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$"), Engine._drop_table),
    (_rx(r"^RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)\s*$"), Engine._rename_table),
    (_rx(r"^(ALTER\s+TABLE\s+(\w+)\s+(ADD|DROP|RENAME|MODIFY)\s+COLUMN\b.*)$", re.S),
     Engine._alter_column),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+ADD\s+(PROJECTION\s+.+)$", re.S),
     Engine._add_projection),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+PROJECTION\s+`?(\w+)`?\s*$"),
     Engine._drop_projection),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+DELETE\s+"
         r"(?:IN\s+PARTITION\s+'?([^'\s]+)'?\s+)?WHERE\s+(.+)$", re.S),
     Engine._delete),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+UPDATE\s+(.+?)\s+"
         r"(?:IN\s+PARTITION\s+'?([^'\s]+)'?\s+)?WHERE\s+(.+)$", re.S),
     Engine._update),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+DROP\s+PARTITION\s+'?([^'\s;]+)'?\s*$"),
     Engine._drop_partition),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+TTL\s+(\w+)\s*\+\s*(?:INTERVAL\s+)?"
         r"(\d+)\s*(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|YEAR)S?\s*$"),
     Engine._modify_ttl),
    (_rx(r"^ALTER\s+TABLE\s+(\w+)\s+COMMENT\s+COLUMN\s+`?\w+`?\s+'.*'\s*$", re.S),
     Engine._comment_column),
    (_rx(r"^OPTIMIZE\s+TABLE\s+(\w+)(?:\s+PARTITION\s+'?([^'\s;]+)'?)?"
         r"(?:\s+FINAL)?(?:\s+(DEDUPLICATE)(?:\s+BY\s+(.+?))?)?\s*$"),
     Engine._optimize),
    (_rx(r"^CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?`?(\w+)`?\s*"
         r"\((.*?)\)\s*PRIMARY\s+KEY\s+`?(\w+)`?\s*"
         r".*?SOURCE\s*\(\s*CLICKHOUSE\s*\(\s*TABLE\s+'(\w+)'\s*\)\s*\)", re.S),
     Engine._create_dictionary),
    (_rx(r"^DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?`?(\w+)`?\s*$"),
     Engine._drop_dictionary),
    (_rx(r"^TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$"), Engine._truncate),
]


def _statement(query: str):
    """The first :data:`_STATEMENTS` entry ``query`` matches and its
    match, or ``(None, None)`` for a query."""
    stmt = query.strip().rstrip(";").strip()
    text = query if _INSERT.match(stmt) else stmt
    for entry in _STATEMENTS:
        m = entry[0].match(text)
        if m:
            return entry, m
    return None, None
