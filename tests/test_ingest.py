"""Ingestion e2e: synthetic JSON event stream -> streaming pipeline ->
per-table parquet + DLQ. Mirrors the reference's semantics: duplicate
deliveries land twice (at-least-once, no dedup at rest), unroutable
subjects and undecodable payloads dead-letter instead of vanishing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ed_clickhouse_spark.sources.registry import BY_TABLE, FAMILIES, route_for_subject
from ed_clickhouse_spark.streaming.pipeline import start_ingest


def _envelope(i: int, name: str, ts: int) -> dict:
    return {
        "event_id": f"ev-{i}",
        "event_name": name,
        "user_id": f"u{i % 3}",
        "session_id": f"s{i % 2}",
        "anonymous_id": f"a{i}",
        "timestamp": ts,
        "service_origin": "test",
        "platform": "web",
        "platform_version": "1",
        "os_name": "linux",
        "os_version": "6",
        "browser_name": "ff",
        "browser_version": "120",
        "device_type": "desktop",
        "screen_resolution": "1920x1080",
        "user_agent": "ua",
    }


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("events_src")
    wh = str(tmp_path_factory.mktemp("warehouse"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))

    lines = []
    base_ts = 1_700_000_000
    # 5 login events; one delivered TWICE (at-least-once duplicate)
    for i in range(5):
        payload = json.dumps(_envelope(i, "login", base_ts + i * 60))
        lines.append({"subject": "events.login", "payload": payload})
    lines.append(lines[0])
    # 3 watch events with family extensions
    for i in range(3):
        ev = _envelope(100 + i, "watch", base_ts + 90000 + i)  # next day
        ev.update({"item_id": f"it{i}", "video_position": 10 * i, "video_duration": 100,
                   "state": "playing", "event_details": json.dumps({"q": i})})
        lines.append({"subject": "events.angulak.watch", "payload": json.dumps(ev)})
    # 2 item events with arrays
    for i in range(2):
        ev = _envelope(200 + i, "item", base_ts + i)
        ev.update({"item_id": f"it{i}", "genres": ["drama", "comedy"],
                   "labels": [], "languages": ["fa"], "categories": ["movie"],
                   "age_rating": 12, "is_dubbed": True, "is_exclusive": False,
                   "has_subtitle": True, "reach_method": "search"})
        lines.append({"subject": "events.shahrefarang.item", "payload": json.dumps(ev)})
    # unroutable subject (reference would silently Term — we DLQ)
    lines.append({"subject": "events.unknown.family", "payload": json.dumps(_envelope(900, "x", base_ts))})
    # undecodable payload ("Cannot parse" => permanent => DLQ)
    lines.append({"subject": "events.login", "payload": "{not json"})

    with open(src / "batch1.json", "w") as f:
        f.write("\n".join(json.dumps(l) for l in lines))

    q = start_ingest(spark, str(src), wh, ckpt)
    q.processAllAvailable()
    q.stop()
    return wh


def test_routing_counts(spark, ingested):
    login = spark.read.parquet(f"{ingested}/login_events")
    assert login.count() == 6  # 5 + 1 duplicate delivery (at-least-once)
    watch = spark.read.parquet(f"{ingested}/angulak_watch_events")
    assert watch.count() == 3
    item = spark.read.parquet(f"{ingested}/shahre_farang_item_events")
    assert item.count() == 2


def test_duplicates_preserved_and_dedupable(spark, ingested):
    login = spark.read.parquet(f"{ingested}/login_events")
    assert login.filter(F.col("event_id") == "ev-0").count() == 2
    # the optional dedup upgrade the reference can't do (SURVEY §2 B9)
    assert login.dropDuplicates(["event_id"]).count() == 5


def test_typed_columns(spark, ingested):
    watch = spark.read.parquet(f"{ingested}/angulak_watch_events")
    row = watch.filter(F.col("event_id") == "ev-101").collect()[0]
    assert row["video_position"] == 10
    assert row["state"] == "playing"
    assert str(row["timestamp"]).startswith("2023-11-15")  # unix s -> ts
    item = spark.read.parquet(f"{ingested}/shahre_farang_item_events")
    assert item.collect()[0]["genres"] == ["drama", "comedy"]


def test_date_partitioning(ingested):
    import os

    parts = {d for d in os.listdir(f"{ingested}/login_events") if d.startswith("event_date=")}
    assert len(parts) >= 1
    watch_parts = {
        d for d in os.listdir(f"{ingested}/angulak_watch_events") if d.startswith("event_date=")
    }
    assert watch_parts != parts  # watch events landed on the next day


def test_written_files_sorted_by_order_by(spark, tmp_path):
    """The MergeTree-ORDER-BY write policy must survive the dynamic-
    partition writer: every written file is sorted by (timestamp,
    event_name). Before r12 the writer inserted its own non-stable sort
    on event_date (the sort lacked the partition-column prefix) and
    scrambled the order inside every file."""
    import glob
    import json as _json

    from ed_clickhouse_spark.streaming.pipeline import append_events

    rows = [
        ("ev-%d" % i, "login" if i % 2 else "logout", 1_700_000_000 + (i * 7919) % 86_400)
        for i in range(5_000)
    ]
    df = spark.createDataFrame(rows, "event_id string, event_name string, ts long").select(
        "event_id", "event_name", F.timestamp_seconds("ts").alias("timestamp")
    )
    append_events(df, str(tmp_path), "sorted_events")
    files = glob.glob(f"{tmp_path}/sorted_events/event_date=*/*.parquet")
    assert files
    for f in files:
        got = [
            (r["timestamp"], r["event_name"])
            for r in spark.read.parquet(f).select("timestamp", "event_name").collect()
        ]
        assert got == sorted(got), f"file {f} not sorted by (timestamp, event_name)"


def test_dlq(spark, ingested):
    dlq = spark.read.parquet(f"{ingested}/_dlq")
    reasons = {r["reason"] for r in dlq.collect()}
    assert reasons == {"unroutable_subject", "decode_error"}
    assert dlq.count() == 2


def test_registry_subjects_map_to_canonical_tables():
    # the reference bug class: router spelling vs migration spelling
    # (src/handler.rs:42 'shahrefarang_item_events' vs migrations/009
    # 'shahre_farang_item_events') — our registry is the single source
    assert route_for_subject("events.shahrefarang.item").table == "shahre_farang_item_events"
    assert route_for_subject("events.nope") is None
    assert len(FAMILIES) == 9
    assert len(BY_TABLE) == 9  # no table-name collisions


def test_kafka_shaped_frame_routes_through_process_batch(spark, tmp_path):
    """kafka_to_wire + process_batch: the same routing/DLQ semantics from
    a Kafka-schema frame (key/value binary, topic) — the production
    source shape (no broker needed: foreachBatch receives a plain DF)."""
    from ed_clickhouse_spark.streaming.pipeline import kafka_to_wire, process_batch

    wh = str(tmp_path / "wh")
    base_ts = 1_700_000_000
    rows = [
        # keyed record: subject from the key
        ("events.login", json.dumps(_envelope(1, "login", base_ts)), "ingest"),
        # keyless record: subject falls back to the topic
        (None, json.dumps(_envelope(2, "login", base_ts)), "events.login"),
        # unroutable key -> DLQ
        ("events.bogus", json.dumps(_envelope(3, "x", base_ts)), "ingest"),
        # undecodable payload -> DLQ
        ("events.login", "{not json", "ingest"),
    ]
    kafka_shaped = spark.createDataFrame(
        [(k.encode() if k else None, v.encode(), t, 0, i, None) for i, (k, v, t) in enumerate(rows)],
        "key binary, value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    process_batch(kafka_to_wire(kafka_shaped), wh)
    login = spark.read.parquet(f"{wh}/login_events")
    assert login.count() == 2  # keyed + topic-fallback both routed
    dlq = spark.read.parquet(f"{wh}/_dlq")
    assert {r["reason"] for r in dlq.collect()} == {"unroutable_subject", "decode_error"}


def test_bytes_per_trigger_caps_batches(spark, tmp_path):
    """The 60 MB-style bytes cap (reference src/handler.rs:145,188),
    approximated as files-per-trigger from observed file sizes: batches
    must stay near the cap instead of swallowing the whole backlog."""
    from ed_clickhouse_spark.streaming.pipeline import (
        files_per_trigger_for_bytes,
        start_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    base_ts = 1_700_000_000
    rows_per_file = 40
    for fidx in range(6):
        with open(src / f"b{fidx}.json", "w") as f:
            for i in range(rows_per_file):
                payload = json.dumps(_envelope(fidx * 1000 + i, "login", base_ts + i))
                f.write(json.dumps({"subject": "events.login", "payload": payload}) + "\n")
    file_bytes = (src / "b0.json").stat().st_size
    cap = int(file_bytes * 2.5)  # ~2 files per batch
    assert files_per_trigger_for_bytes(spark, str(src), cap) == 2

    q = start_ingest(spark, str(src), wh, ckpt, bytes_per_trigger=cap)
    q.processAllAvailable()
    q.stop()
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert sum(batches) == 6 * rows_per_file  # nothing lost
    # every batch stayed at/below the derived cap (2 files' worth of rows)
    assert max(batches) <= 2 * rows_per_file
    assert len(batches) >= 3


def test_engine_from_config_toml(tmp_path):
    from ed_clickhouse_spark.engine import Engine

    cfg = tmp_path / "engine.toml"
    cfg.write_text(
        """
[warehouse]
path = "%s"

[batcher]
max_rows = 50000
max_bytes = 60000000
flush_interval_ms = 500

[spark]
broadcast_threshold = 33554432

[kafka]
bootstrap_servers = "broker:9092"
topics = ["ingest"]

[nats]
host = "natshost"
client_port = 4222
subjects = ["events.login"]
consumer_name = "click-consumer"

[nats.stream_config]
name = "ClickHouseConsumer"
"""
        % str(tmp_path / "wh")
    )
    eng = Engine.from_config(str(cfg))
    assert eng.warehouse == str(tmp_path / "wh")
    assert eng.ingest_defaults["max_rows"] == 50000
    assert eng.ingest_defaults["bytes_per_trigger"] == 60000000
    assert eng.ingest_defaults["trigger_interval_ms"] == 500
    assert eng.ingest_defaults["kafka"]["topics"] == ["ingest"]
    # the reference's [nats] block parses into connection defaults
    assert eng.ingest_defaults["nats"] == {
        "url": "nats://natshost:4222",
        "subjects": ["events.login"],
        "durable": "click-consumer",
        "stream": "ClickHouseConsumer",
    }
    eng.init()
    assert eng.ping()
    # kafka mode validates connection config before starting a stream
    import pytest as _pytest

    eng2 = Engine(str(tmp_path / "wh2"), eng.spark)
    with _pytest.raises(ValueError, match="bootstrap_servers"):
        eng2.ingest_kafka()


def test_nats_shaped_frame_routes_through_process_batch(spark, tmp_path):
    """nats_to_wire + process_batch: routing/DLQ semantics from a
    JetStream-message-shaped frame, including redelivery dedup — a
    redelivered message (same stream_seq, higher num_delivered) must
    land once (mirrors the Kafka-mode test; no broker needed)."""
    from ed_clickhouse_spark.sources.nats import nats_to_wire
    from ed_clickhouse_spark.streaming.pipeline import process_batch

    wh = str(tmp_path / "wh")
    base_ts = 1_700_000_000
    rows = [
        # (subject, payload, stream_seq, num_delivered)
        ("events.login", json.dumps(_envelope(1, "login", base_ts)), 10, 1),
        ("events.login", json.dumps(_envelope(2, "login", base_ts)), 11, 1),
        # redelivery of seq 11 (ack_wait expired): must dedupe in-batch
        ("events.login", json.dumps(_envelope(2, "login", base_ts)), 11, 2),
        # unroutable subject -> DLQ
        ("events.bogus", json.dumps(_envelope(3, "x", base_ts)), 12, 1),
        # undecodable payload -> DLQ
        ("events.login", "{not json", 13, 1),
    ]
    nats_shaped = spark.createDataFrame(
        [(s, p.encode(), q, d) for s, p, q, d in rows],
        "subject string, data binary, stream_seq long, num_delivered int",
    )
    process_batch(nats_to_wire(nats_shaped), wh)
    login = spark.read.parquet(f"{wh}/login_events")
    assert login.count() == 2  # seq 11 counted once despite redelivery
    dlq = spark.read.parquet(f"{wh}/_dlq")
    assert {r["reason"] for r in dlq.collect()} == {
        "unroutable_subject",
        "decode_error",
    }


class _FakeJetStream:
    """In-memory JetStream double: fetch returns unacked messages (a
    redelivery bumps num_delivered, same stream_seq), ack removes them —
    the contract NatsBridge relies on (reference src/nats.rs:63-83)."""

    class _Msg:
        def __init__(self, js, seq, subject, data):
            self._js = js
            self.stream_seq = seq
            self.subject = subject
            self.data = data
            self.num_delivered = 0

        def ack(self):
            self._js._pending.pop(self.stream_seq, None)

    def __init__(self, items):
        self._pending = {}
        for i, (subject, data) in enumerate(items):
            self._pending[i] = self._Msg(self, i, subject, data)

    def fetch(self, max_msgs, max_bytes):
        out, used = [], 0
        for m in list(self._pending.values())[:max_msgs]:
            m.num_delivered += 1
            used += len(m.data)
            out.append(m)
            if used >= max_bytes:
                break
        return out


def test_nats_bridge_acks_after_spool_with_redelivery(spark, tmp_path):
    """NatsBridge: a failed spool write leaves everything unacked (the
    server redelivers — num_delivered grows, nothing is lost), a
    successful pump spools + acks, and the checkpointed file ingest
    lands every event exactly as the reference's ack-after-insert."""
    import pytest as _pytest

    from ed_clickhouse_spark.sources.nats import NatsBridge, start_ingest_nats

    base_ts = 1_700_000_000
    items = [
        ("events.login", json.dumps(_envelope(i, "login", base_ts)).encode())
        for i in range(5)
    ]
    js = _FakeJetStream(items)
    spool = tmp_path / "spool"
    bridge = NatsBridge(js, str(spool), max_msgs=3)

    # sabotage the first write: pump must neither spool nor ack
    orig_rename = __import__("os").rename

    def boom(*a, **kw):
        raise OSError("disk full")

    import os as _os

    _os.rename = boom
    try:
        with _pytest.raises(OSError):
            bridge.pump_once()
    finally:
        _os.rename = orig_rename
    assert len(js._pending) == 5  # nothing acked
    assert list(spool.glob("batch-*.json")) == []  # nothing visible
    # messages redeliver with num_delivered bumped — at-least-once held
    assert {m.num_delivered for m in js._pending.values()} >= {1}

    # healthy pumps drain the consumer in fetch-cap-sized spool files
    moved = bridge.pump_until_empty()
    assert moved == 5
    assert len(js._pending) == 0  # every message acked after its rename
    files = sorted(spool.glob("batch-*.json"))
    assert len(files) == 2  # 3 + 2 under max_msgs=3

    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    q = start_ingest_nats(spark, bridge, wh, ckpt)
    q.processAllAvailable()
    q.stop()
    login = spark.read.parquet(f"{wh}/login_events")
    assert login.count() == 5
    ids = {r["event_id"] for r in login.select("event_id").collect()}
    assert ids == {f"ev-{i}" for i in range(5)}


def test_engine_ingest_nats_with_injected_client(spark, tmp_path):
    """Engine.ingest_nats wires the injected fetch/ack client through
    NatsBridge + the checkpointed file ingest and returns both handles."""
    from ed_clickhouse_spark.engine import Engine

    base_ts = 1_700_000_000
    items = [
        ("events.login", json.dumps(_envelope(i, "login", base_ts)).encode())
        for i in range(4)
    ]
    js = _FakeJetStream(items)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.init()
    q, bridge = eng.ingest_nats(client=js, spool_dir=str(tmp_path / "spool"))
    try:
        assert bridge.pump_until_empty() == 4
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(js._pending) == 0
    login = spark.read.parquet(str(tmp_path / "wh" / "login_events"))
    assert login.count() == 4


_CSV_RT_SEQ = [0]


@pytest.mark.parametrize("seed", [0])
def test_inline_csv_insert_randomized_roundtrip(spark, tmp_path, seed):
    """Randomized RFC-4180 roundtrip for the r10 quoting-aware inline
    CSV splitter (verdict r10 task #6): generate rows mixing quotes,
    commas, CR/LF newlines, empties and NULLs; render them CSV with
    the clickhouse-client conventions (always-quoted strings with ""
    escapes, unquoted empty field = NULL); INSERT ... FORMAT CSV; read
    back and compare value-for-value. Hypothesis drives the content so
    the whole escape space gets pinned, not just the reported shapes."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)

    field = st.one_of(
        st.none(),
        st.text(
            alphabet='ab,"xy\n\r ;\t\\N', min_size=0, max_size=12
        ),
    )

    @given(rows=st.lists(
        st.tuples(st.integers(-10**6, 10**6), field, field),
        min_size=1, max_size=8,
    ))
    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
        ],
    )
    def run(rows):
        _CSV_RT_SEQ[0] += 1
        tbl = f"csv_rt_{_CSV_RT_SEQ[0]}"
        eng.ch_sql(
            f"CREATE TABLE {tbl} (a Int64, b String, c String)"
            " ENGINE = MergeTree() ORDER BY (a)"
        )
        try:
            def render(v):
                if v is None:
                    return ""
                return '"' + v.replace('"', '""') + '"'

            payload = "\n".join(
                f"{a},{render(b)},{render(c)}" for a, b, c in rows
            )
            eng.ch_sql(f"INSERT INTO {tbl} FORMAT CSV\n{payload}")

            def key(row):
                a, b, c = row
                return (a, b is None, b or "", c is None, c or "")

            got = sorted(
                (
                    (r["a"], r["b"], r["c"])
                    for r in eng.ch_sql(f"SELECT * FROM {tbl}").collect()
                ),
                key=key,
            )
            assert got == sorted(rows, key=key), (payload, got)
        finally:
            eng.ch_sql(f"DROP TABLE {tbl}")

    run()


ONE_MODEL_DDL = """
CREATE TABLE login_events (
    event_id String,
    event_name String,
    user_id String,
    timestamp DateTime,
    platform String,
    platform_tag String ALIAS upper(platform),
    PROJECTION by_platform (SELECT platform, count() AS n GROUP BY platform)
) ENGINE = MergeTree()
ORDER BY (timestamp, event_name)
"""


def test_streamed_rows_join_the_declared_table_model(spark, tmp_path):
    """A family table declared through ch_sql is written and served by
    the stream under the SAME spec as ch_sql INSERTs: streamed rows land
    beside inserted ones (not in event_date= directories that hide the
    inserted files), feed its projection and its materialized view, and
    refresh_views keeps the declared read surface (ALIAS columns)."""
    from ed_clickhouse_spark import chsql
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql(ONE_MODEL_DDL)
    web = "\n".join(
        json.dumps(
            {"event_id": f"w{i}", "event_name": "login", "user_id": f"u{i}",
             "timestamp": "2023-11-14T22:13:20", "platform": "web"}
        )
        for i in range(3)
    )
    eng.ch_sql(f"INSERT INTO login_events FORMAT JSONEachRow\n{web}")
    eng.ch_sql(
        "CREATE MATERIALIZED VIEW mv ENGINE = AggregatingMergeTree()"
        " ORDER BY platform AS SELECT platform, count() AS n"
        " FROM login_events GROUP BY platform"
    )
    src = tmp_path / "src"
    src.mkdir()
    for name, ids in (("b1.json", range(2)), ("b2.json", range(2, 5))):
        rows = []
        for i in ids:
            ev = _envelope(500 + i, "login", 1_700_000_000 + i)
            ev["platform"] = "ios"
            rows.append(json.dumps({"subject": "events.login", "payload": json.dumps(ev)}))
        (src / name).write_text("\n".join(rows))
    q = eng.ingest(str(src), max_files_per_trigger=1)  # two micro-batches
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    eng.refresh_views()

    by_platform = "SELECT platform, count() AS n FROM login_events GROUP BY platform"
    assert "login_events__proj_by_platform_parts" in eng._route_projection(
        chsql.translate(by_platform, eng.table_specs).sql
    )
    # (a) the routed projection holds the streamed partials too
    assert {r["platform"]: r["n"] for r in eng.ch_sql(by_platform).collect()} == {
        "web": 3,
        "ios": 5,
    }
    # (b) the served view sees inserted and streamed rows alike
    assert eng.sql("SELECT count(*) AS n FROM login_events").first()["n"] == 8
    assert eng.table("login_events").count() == 8
    # (c) the declared ALIAS column survives refresh_views
    tags = {r["platform_tag"] for r in eng.sql("SELECT platform_tag FROM login_events").collect()}
    assert tags == {"WEB", "IOS"}
    # (d) the self-storing view fired on both streamed batches and is served
    assert {r["platform"]: r["n"] for r in spark.table("mv").collect()} == {"ios": 5}


def _wire_batch(spark, rows):
    from ed_clickhouse_spark.streaming.pipeline import WIRE_SCHEMA

    return spark.createDataFrame(rows, WIRE_SCHEMA)


def _mixed_rows(subjects, per_family=2, corrupt=()):
    """``per_family`` good rows for each subject, one truncated payload
    for each subject in ``corrupt``, plus an unknown and a NULL subject."""
    base_ts = 1_700_000_000
    rows = [
        (s, json.dumps(_envelope(10 * k + i, s.rsplit(".", 1)[-1], base_ts + i)))
        for k, s in enumerate(subjects)
        for i in range(per_family)
    ]
    rows += [(s, '{"event_id": "cut') for s in corrupt]
    rows += [("events.unknown", json.dumps(_envelope(99, "x", base_ts))), (None, "{}")]
    return rows


class _Recorder:
    """An insert trigger that counts the rows each batch hands it."""

    def __init__(self):
        self.rows = 0

    def on_batch(self, batch, epoch_id=None):
        self.rows += batch.count()


def test_process_batch_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Every family lands on a worker thread; the workers run their jobs
    under the caller's job group, so per-batch job accounting sees each
    family's append and the DLQ append."""
    from ed_clickhouse_spark.streaming.pipeline import process_batch

    subjects = [f.subject for f in FAMILIES[:6]]
    batch = _wire_batch(spark, _mixed_rows(subjects, corrupt=subjects[:2]))
    sc = spark.sparkContext
    group = f"ingest-group-{tmp_path.name}"
    sc.setJobGroup(group, "process_batch job accounting")
    try:
        process_batch(batch, str(tmp_path / "wh"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) >= len(subjects) + 1, jobs


def test_failed_family_append_lets_the_others_land_and_unpins(spark, tmp_path):
    """One family's append raises (its declared MATERIALIZED expression
    cannot resolve): the other families still land and fire their
    triggers, every cache process_batch made is released, and the error
    reaches the caller — foreachBatch's at-least-once retry. All nine
    families land at once under a short thread switch interval, so a
    lost cache registration would show as a leaked cache."""
    import dataclasses
    import sys

    from pyspark.errors import AnalysisException

    from ed_clickhouse_spark.streaming.pipeline import process_batch

    broken = dataclasses.replace(
        BY_TABLE["session_events"].spec,
        col_exprs={"event_date": ("MATERIALIZED", "to_date(no_such_column)")},
    )
    views = {f.table: [_Recorder()] for f in FAMILIES}
    wh = str(tmp_path / "wh")
    subjects = [f.subject for f in FAMILIES]
    batch = _wire_batch(spark, _mixed_rows(subjects, per_family=3, corrupt=subjects))
    pinned_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(AnalysisException, match="no_such_column"):
            process_batch(batch, wh, views=views, tables={"session_events": broken})
    finally:
        sys.setswitchinterval(interval)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == pinned_before
    for fam in FAMILIES:
        if fam.table != "session_events":
            assert spark.read.parquet(f"{wh}/{fam.table}").count() == 3, fam.table
            assert views[fam.table][0].rows == 3, fam.table
    assert views["session_events"][0].rows == 0
    # the batch is delivered again, so its dead letters wait for the retry
    assert not (tmp_path / "wh" / "_dlq").exists()


def test_one_dead_letter_append_per_batch(spark, tmp_path):
    """Unroutable rows and every family's decode errors land in ONE DLQ
    append (one ``dlq_at``), row for row as separate appends wrote them."""
    from ed_clickhouse_spark.streaming.pipeline import process_batch

    subjects = ["events.login", "events.session", "events.angulak.watch"]
    rows = _mixed_rows(subjects, corrupt=subjects[:2] * 2)
    wh = str(tmp_path / "wh")
    process_batch(_wire_batch(spark, rows), wh)
    dlq = spark.read.parquet(f"{wh}/_dlq")
    got = sorted(
        (r["subject"] or "", r["raw_payload"], r["reason"])
        for r in dlq.select("subject", "raw_payload", "reason").collect()
    )
    want = sorted(
        [(s, '{"event_id": "cut', "decode_error") for s in subjects[:2] * 2]
        + [("events.unknown", json.dumps(_envelope(99, "x", 1_700_000_000)), "unroutable_subject"),
           ("", "{}", "unroutable_subject")]
    )
    assert got == want
    assert dlq.select(F.countDistinct("dlq_at")).first()[0] == 1


def test_two_views_to_one_target_take_both_families(spark, tmp_path):
    """Two materialized views on two family tables append to ONE target;
    fed by one streamed batch, the target holds both families' rows (the
    triggers never write the shared path at the same time)."""
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql(
        "CREATE TABLE seen (event_name String, user_id String)"
        " ENGINE = MergeTree() ORDER BY event_name"
    )
    for name, table in (("seen_login", "login_events"), ("seen_session", "session_events")):
        eng.ch_sql(
            f"CREATE MATERIALIZED VIEW {name} TO seen AS"
            f" SELECT event_name, user_id FROM {table}"
        )
    src = tmp_path / "src"
    src.mkdir()
    rows = _mixed_rows(["events.login", "events.session"], per_family=3, corrupt=["events.login"])
    (src / "b1.json").write_text(
        "\n".join(json.dumps({"subject": s, "payload": p}) for s, p in rows)
    )
    q = eng.ingest(str(src))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    eng.refresh_views()
    got = {
        r["event_name"]: r["n"]
        for r in eng.sql("SELECT event_name, count(*) AS n FROM seen GROUP BY event_name").collect()
    }
    assert got == {"login": 3, "session": 3}
