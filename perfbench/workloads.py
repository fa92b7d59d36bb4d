"""The two workloads: ``dashboard`` (the ClickHouse panels users keep)
and ``ingest`` (mixed-subject micro-batches with freshness reads).

Each is one closed-loop client: the next operation starts when the
previous one has returned its rows. A workload is built by its
constructor (the set-up the benchmark times), driven by :meth:`cycle`
until the run's time is up, then checked by :meth:`check` outside the
timed cycles. Each cycle returns its
operations as :class:`Op` records; an operation whose answer is wrong
counts as failed.

Only public entry points of the engine are called: ``chsql.translate``,
``SparkSession.sql`` + ``collect``, ``streaming.pipeline.process_batch``,
and ``Engine.ch_sql`` / ``Engine.refresh_views``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import gen
import spans as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DASHBOARD_SQL = os.path.join(ROOT, "examples", "dashboard.sql")


@dataclass
class Op:
    """One timed operation. ``kind`` is ``read`` (rows returned to the
    client) or ``write`` (an ingest batch made visible)."""

    name: str
    kind: str
    seconds: float
    ok: bool
    op_id: str = ""
    layers: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, tracer: tr.Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._ops = 0

    def exhausted(self) -> bool:
        """True when no input is left for another cycle."""
        return False

    def dlq_rows(self) -> dict[str, int]:
        """Dead-lettered rows by reason (none outside ingest)."""
        return {}

    def trace_layers(self) -> None:
        """Wrap ``chsql.translate`` in its module, where the dashboard,
        ``Engine.ch_sql`` and the view hooks all look it up."""
        import ed_clickhouse_spark.chsql as chsql

        self.tracer.wrap(chsql, "translate", "chsql.translate", count_calls=True)

    def _run(self, name: str, kind: str, fn, check) -> Op:
        """Time ``fn()``; ``check(result)`` runs after the clock stops.
        A raised error counts as a failed operation."""
        op_id = f"{self.name}-{self._ops}"
        self._ops += 1
        self.tracer.op = op_id
        if self.tracer.enabled:
            self.sc.setJobGroup(op_id, name)
        start = time.perf_counter()
        try:
            with self.tracer.span(name):
                result = fn()
            seconds = time.perf_counter() - start
            ok = bool(check(result))
            if not ok:
                print(f"# {name}: wrong result", flush=True)
        except Exception as exc:  # the op failed; the run goes on
            seconds = time.perf_counter() - start
            print(f"# {name} failed: {type(exc).__name__}: {str(exc)[:300]}", flush=True)
            result, ok = None, False
        op = Op(name, kind, seconds, ok, op_id)
        if self.tracer.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            op.layers = self._layers(op_id, result)
        self.tracer.op = None
        return op

    def _layers(self, op_id: str, result) -> dict:
        """Per-layer numbers of one traced operation."""
        layers = dict(tr.job_metrics(self.sc, op_id))
        layers.update(tr.cache_metrics(self.sc))
        self.tracer.count_python_calls(op_id)
        layers.update(self.tracer.counts.pop(op_id, {}))
        if isinstance(result, tuple) and len(result) == 2:
            df, rows = result
            layers.update(tr.catalyst_phases(df))
            layers.update(tr.plan_metrics(df))
            layers["exec.result_rows"] = float(len(rows))
        return layers


# -- dashboard -----------------------------------------------------------------


def dashboard_panels() -> list[str]:
    """The statements of ``examples/dashboard.sql`` (comment lines
    dropped, split on ``;``), exactly as the example test reads them."""
    with open(DASHBOARD_SQL) as f:
        text = f.read()
    body = "\n".join(ln for ln in text.splitlines() if not ln.strip().startswith("--"))
    return [s.strip() for s in body.split(";") if s.strip()]


class Dashboard(Workload):
    """Every sixth panel of the saved dashboard (6, 12, ..., 48), verbatim
    and in file order, through ``chsql.translate`` -> ``spark.sql`` ->
    ``collect()``, over tables generated from the seed. A sixth of the
    panels keeps one cold pass inside the run budget; this sixth holds
    the single-task zipped ARRAY JOIN (30) and the pandas-UDF panel (42).
    The spot-checked panels 2 and 20 run in :meth:`check`."""

    name = "dashboard"

    def __init__(self, spark, tracer, data_dir: str, seed: int, scale: float = 1.0):
        super().__init__(spark, tracer)
        from ed_clickhouse_spark.catalog import read_table
        from ed_clickhouse_spark.functions.clickhouse import register_sql_aliases

        register_sql_aliases(spark)
        self.expect = gen.write_tables(data_dir, seed, scale)
        self.specs = {}
        for name in ("events", "documents", "orders", "customer", "lineitem"):
            df = read_table(spark, data_dir, name)
            df.createOrReplaceTempView(name)
            self.specs[name] = df.columns
        self.panels = dashboard_panels()
        self.measured = range(5, len(self.panels), 6)  # panels 6, 12, ..., 48
        self.data_dir = data_dir

    def _panel(self, i: int) -> Op:
        import ed_clickhouse_spark.chsql as chsql

        def run():
            sql = chsql.translate(self.panels[i], self.specs).sql
            with self.tracer.span("spark.sql"):
                df = self.spark.sql(sql)
            with self.tracer.span("exec.collect"):
                rows = df.collect()
            return df, rows

        return self._run(f"panel{i + 1:02d}", "read", run, lambda r: len(r[1]) > 0)

    def check(self) -> list[Op]:
        """Spot values, outside the timed cycles: panels 2 and 20 equal
        both their Spark SQL twins (as in the example test) and the
        generator's counts."""
        from ed_clickhouse_spark.chsql import translate

        mix = {
            r["event_type"]: (r["n"], r["with_value"])
            for r in self.spark.sql(translate(self.panels[1]).sql).collect()
        }
        twin = {
            r["event_type"]: (r["n"], r["wv"])
            for r in self.spark.sql(
                "SELECT event_type, count(*) AS n, count_if(value > 0) AS wv"
                " FROM events GROUP BY 1"
            ).collect()
        }
        want = {k: tuple(v) for k, v in self.expect["event_mix"].items()}
        health = self.spark.sql(translate(self.panels[19]).sql).first()
        twin20 = self.spark.sql(
            "SELECT count(*) AS c, count(DISTINCT user_id) AS u FROM events"
        ).first()
        ok20 = (
            health["total_events"] == twin20["c"] == self.expect["total_events"]
            and health["exact_users"] == twin20["u"] == self.expect["exact_users"]
        )
        return [
            Op("spot.panel02", "check", 0.0, mix == twin == want),
            Op("spot.panel20", "check", 0.0, ok20),
        ]

    def cycle(self) -> tuple[float, list[Op]]:
        # file order, not a seeded shuffle: in the first pass after
        # set-up the earliest panels pay the JIT warm-up, and a shuffled
        # order moved the median panel latency by 25% between seeds
        start = time.perf_counter()
        ops = [self._panel(i) for i in self.measured]
        return time.perf_counter() - start, ops

    def storage(self) -> tuple[int, int]:
        return _tree_size(self.data_dir)

    def corrupt_expectation(self) -> None:
        self.expect["total_events"] += 1


# -- ingest --------------------------------------------------------------------

MV_TARGET = (
    "CREATE TABLE daily_watch (d Date, uu AggregateFunction(uniq, String),"
    " n AggregateFunction(count)) ENGINE = AggregatingMergeTree() ORDER BY d"
)
MV = (
    "CREATE MATERIALIZED VIEW daily_watch_mv TO daily_watch AS"
    " SELECT toDate(timestamp) AS d, uniqState(user_id) AS uu,"
    " countState() AS n FROM angulak_watch_events GROUP BY d"
)
_TABLE_COUNTS = " UNION ALL ".join(
    f"SELECT '{t}' AS t, count() AS n FROM {t}"
    for t in (
        "login_events", "sabte_ahval_events", "angulak_like_events",
        "angulak_watch_events", "session_events", "angulak_comment_events",
        "shahre_farang_item_events", "shahre_farang_play_info_events",
        "angulak_bookmark_events",
    )
)
# name -> ClickHouse query; each answer is checked against the generator
FRESH = {
    "fresh.dau_uniq": (
        "SELECT toDate(timestamp) AS d, uniq(user_id) AS dau"
        " FROM angulak_watch_events GROUP BY d ORDER BY d"
    ),
    "fresh.genres_array_join": (
        "SELECT g, count() AS n FROM shahre_farang_item_events"
        " ARRAY JOIN genres AS g GROUP BY g ORDER BY n DESC, g"
    ),
    "fresh.quality_json": (
        "SELECT JSONExtractString(event_details, 'quality') AS q, count() AS n"
        " FROM angulak_watch_events GROUP BY q ORDER BY q"
    ),
    "fresh.mv_merge": (
        "SELECT d, uniqMerge(uu) AS dau, countMerge(n) AS n"
        " FROM daily_watch GROUP BY d ORDER BY d"
    ),
    "fresh.table_rows": _TABLE_COUNTS,
    "fresh.dlq_reasons": "SELECT reason, count() AS n FROM dlq GROUP BY reason ORDER BY reason",
}
# uniq / uniqMerge are sketches (approx_count_distinct at 5% relative
# standard deviation): an answer within three deviations is correct
UNIQ_TOLERANCE = 0.15


def _close(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        abs(got[k] - want[k]) <= UNIQ_TOLERANCE * want[k] for k in want
    )


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Ingest(Workload):
    """Seeded mixed-subject micro-batches through ``process_batch`` with
    the Engine's materialized view attached, each followed by
    ``refresh_views`` and the freshness queries of :data:`FRESH`."""

    name = "ingest"

    def __init__(self, spark, tracer, data_dir: str, seed: int, batches: int, rows: int):
        super().__init__(spark, tracer)
        from ed_clickhouse_spark.engine import Engine

        self.warehouse = os.path.join(data_dir, "warehouse")
        self.engine = Engine(self.warehouse, spark)
        self.engine.ch_sql(MV_TARGET)
        self.engine.ch_sql(MV)
        self.views: dict = {}
        for mv in self.engine.matviews.values():
            self.views.setdefault(mv.spec.source, []).append(mv)
        self.batch_root = os.path.join(data_dir, "batches")
        self.expect = gen.write_batches(self.batch_root, seed, batches, rows)
        self.rows = rows
        self.next = 0

    def trace_layers(self) -> None:
        """Also wrap the layer calls ``process_batch`` looks up in its
        own module namespace, and each view's insert hook."""
        import ed_clickhouse_spark.streaming.pipeline as pipeline

        super().trace_layers()
        for attr, name in (
            ("decode_json", "pipeline.decode_json"),
            ("append_events", "writer.append_events"),
            ("append_dlq", "writer.append_dlq"),
        ):
            self.tracer.wrap(pipeline, attr, name)
        for views in self.views.values():
            for mv in views:
                self.tracer.wrap(mv, "on_batch", "matview.on_batch")

    def exhausted(self) -> bool:
        return self.next == len(self.expect)

    def _batch(self) -> Op:
        from ed_clickhouse_spark.streaming.pipeline import WIRE_SCHEMA, process_batch

        b = self.next
        self.next += 1
        path = os.path.join(self.batch_root, f"batch-{b:03d}")
        before = _tree_size(self.warehouse) if self.tracer.enabled else (0, 0)

        def run():
            batch = self.spark.read.schema(WIRE_SCHEMA).json(path)
            with self.tracer.span("pipeline.process_batch"):
                process_batch(batch, self.warehouse, views=self.views, epoch_id=b)
            with self.tracer.span("engine.refresh_views"):
                self.engine.refresh_views()

        op = self._run(f"batch{b:03d}", "write", run, lambda _: True)
        if self.tracer.enabled:
            after = _tree_size(self.warehouse)
            in_bytes = _tree_size(path)[1]
            op.layers["writer.files_per_batch"] = float(after[0] - before[0])
            op.layers["writer.bytes_per_input_byte"] = (after[1] - before[1]) / in_bytes
            op.layers["pipeline.jobs_per_batch"] = op.layers.pop("exec.jobs", 0.0)
            op.layers["pipeline.decode_passes"] = op.layers.pop("pipeline.decode_json_calls", 0.0)
        return op

    def _fresh(self, name: str, want: dict) -> Op:
        def run():
            with self.tracer.span("engine.ch_sql"):
                df = self.engine.ch_sql(FRESH[name])
            with self.tracer.span("exec.collect"):
                rows = df.collect()
            return df, rows

        def check(result) -> bool:
            rows = result[1]
            if name == "fresh.dau_uniq":
                return _close({str(r["d"]): r["dau"] for r in rows}, want["watch_dau"])
            if name == "fresh.genres_array_join":
                return {r["g"]: r["n"] for r in rows} == want["genres"]
            if name == "fresh.quality_json":
                return {r["q"]: r["n"] for r in rows} == want["quality"]
            if name == "fresh.mv_merge":
                return {str(r["d"]): r["n"] for r in rows} == want["watch_rows"] and _close(
                    {str(r["d"]): r["dau"] for r in rows}, want["watch_dau"]
                )
            if name == "fresh.table_rows":
                return {r["t"]: r["n"] for r in rows} == want["table_rows"]
            return {r["reason"]: r["n"] for r in rows} == want["dlq"]

        return self._run(name, "read", run, check)

    def cycle(self) -> tuple[float, list[Op]]:
        """One batch made visible, then every freshness query; each
        answer must equal the generator's for the batches so far."""
        want = self.expect[self.next]
        batch = self._batch()
        return batch.seconds, [batch] + [self._fresh(n, want) for n in FRESH]

    def check(self) -> list[Op]:
        return []  # every freshness answer is checked in its cycle

    def storage(self) -> tuple[int, int]:
        return _tree_size(self.warehouse)

    def corrupt_expectation(self) -> None:
        for want in self.expect:
            want["table_rows"]["login_events"] += 1

    def dlq_rows(self) -> dict[str, int]:
        rows = self.engine.ch_sql(FRESH["fresh.dlq_reasons"]).collect()
        return {r["reason"]: r["n"] for r in rows}
