"""Declarative event-family registry.

The reference hard-codes a subject -> (table, protobuf schema) map in a
match statement (reference ``src/handler.rs:15-55``) and declares each
family twice more: proto message (``build/format_schemas/dto.proto``) and
ClickHouse DDL (``migrations/*.sql``). Here one registry is the single
source of truth: subject, canonical table name, Spark schema, and the
default :class:`~ed_clickhouse_spark.ddl.TableSpec` each table is
written and served under until DDL declares it (:func:`table_spec`).

Table names use the migration spelling (``shahre_farang_*``): the
reference's router says ``shahrefarang_*`` (``src/handler.rs:42,46``)
while its migrations create ``shahre_farang_*`` — a real routing bug we
don't replicate (SURVEY.md §0); a regression test pins every subject to
a registered table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

from ed_clickhouse_spark.ddl import TableSpec

# Shared 16-field envelope — identical in all nine proto messages
# (reference dto.proto:7-22; DDL e.g. migrations/002_...:2-17).
ENVELOPE_FIELDS: list[tuple[str, T.DataType]] = [
    ("event_id", T.StringType()),
    ("event_name", T.StringType()),
    ("user_id", T.StringType()),
    ("session_id", T.StringType()),
    ("anonymous_id", T.StringType()),
    ("timestamp", T.LongType()),  # unix seconds on the wire (dto.proto:12)
    ("service_origin", T.StringType()),
    ("platform", T.StringType()),
    ("platform_version", T.StringType()),
    ("os_name", T.StringType()),
    ("os_version", T.StringType()),
    ("browser_name", T.StringType()),
    ("browser_version", T.StringType()),
    ("device_type", T.StringType()),
    ("screen_resolution", T.StringType()),
    ("user_agent", T.StringType()),
]

_S = T.StringType()
_I = T.IntegerType()
_B = T.BooleanType()
_AS = T.ArrayType(T.StringType())


@dataclass(frozen=True)
class EventFamily:
    """One event family: NATS-style subject -> table + wire schema."""

    subject: str
    table: str
    extra_fields: tuple = field(default_factory=tuple)

    @property
    def wire_schema(self) -> T.StructType:
        """Schema of the in-flight message (timestamp = unix seconds)."""
        return T.StructType(
            [T.StructField(n, dt, True) for n, dt in ENVELOPE_FIELDS]
            + [T.StructField(n, dt, True) for n, dt in self.extra_fields]
        )

    @property
    def spec(self) -> TableSpec:
        """The table's default spec: the reference migrations' MergeTree
        ``ORDER BY (timestamp, event_name)`` plus one ``event_date=``
        directory per day (a MATERIALIZED column), so ``ddl.append_rows``
        sorts each file by (event_date, timestamp, event_name). At rest
        the envelope timestamp is a TimestampType (ClickHouse coerces
        int64 -> DateTime at insert; decode does the same — SURVEY.md
        §1.3)."""
        fields = [
            T.StructField(f.name, T.TimestampType(), True)
            if f.name == "timestamp" else f
            for f in self.wire_schema.fields
        ]
        return TableSpec(
            name=self.table,
            schema=T.StructType(fields + [T.StructField("event_date", T.DateType(), True)]),
            engine="MergeTree",
            order_by=["timestamp", "event_name"],
            partition_by="event_date",
            col_exprs={"event_date": ("MATERIALIZED", "to_date(timestamp)")},
        )


# Nine families — subjects from reference src/handler.rs:17-52, extension
# columns from migrations/* (see FIXTURES.md §B for the full mapping).
FAMILIES: tuple[EventFamily, ...] = (
    EventFamily("events.login", "login_events"),
    EventFamily(
        "events.sabte_ahval",
        "sabte_ahval_events",
        (("profile_id", _S), ("is_new_user", _B)),
    ),
    EventFamily(
        "events.angulak.like",
        "angulak_like_events",
        (("play_info_id", _S), ("action", _S)),
    ),
    EventFamily(
        "events.angulak.watch",
        "angulak_watch_events",
        (
            ("state", _S), ("item_type", _S), ("item_id", _S), ("play_info_id", _S),
            ("season_number", _I), ("episode_number", _I),
            ("subtitle_language", _S), ("audio_language", _S),
            ("video_position", _I), ("video_duration", _I),
            ("player_version", _S), ("internet_connection_type", _S),
            ("region", _S), ("ad_id", _S), ("ad_type", _S), ("event_details", _S),
        ),
    ),
    EventFamily("events.session", "session_events", (("is_ended", _B),)),
    EventFamily(
        "events.angulak.comment", "angulak_comment_events", (("play_info_id", _S),)
    ),
    EventFamily(
        "events.shahrefarang.item",
        "shahre_farang_item_events",
        (
            ("item_id", _S), ("play_info_id", _S), ("age_rating", _I),
            ("is_dubbed", _B), ("is_exclusive", _B), ("has_subtitle", _B),
            ("genres", _AS), ("labels", _AS), ("languages", _AS),
            ("categories", _AS), ("reach_method", _S),
        ),
    ),
    EventFamily(
        "events.shahrefarang.play_info",
        "shahre_farang_play_info_events",
        (
            ("duration", _I), ("item_id", _S), ("genres", _AS),
            ("categories", _AS), ("labels", _AS), ("has_subtitle", _B),
            ("is_dubbed", _B), ("reach_method", _S),
        ),
    ),
    EventFamily(
        "events.angulak.bookmark",
        "angulak_bookmark_events",
        (("play_info_id", _S), ("action", _S)),
    ),
)

BY_SUBJECT: dict[str, EventFamily] = {f.subject: f for f in FAMILIES}
BY_TABLE: dict[str, EventFamily] = {f.table: f for f in FAMILIES}

DLQ_TABLE = "_dlq"
# dead letters: the raw payload, its subject and why it was parked
DLQ_SPEC = TableSpec(
    name=DLQ_TABLE,
    schema=T.StructType(
        [
            T.StructField("subject", _S, True),
            T.StructField("raw_payload", _S, True),
            T.StructField("reason", _S, True),
            T.StructField("dlq_at", T.TimestampType(), True),
        ]
    ),
    engine="MergeTree",
)


def table_spec(table: str, declared: dict | None = None) -> TableSpec | None:
    """The one lookup for the spec a table is written and served under:
    a DDL-declared spec (``declared``, e.g. ``Engine.table_specs``)
    always wins, an undeclared family gets its default :attr:`EventFamily.spec`,
    and any other name has none."""
    spec = (declared or {}).get(table)
    if spec is None and table in BY_TABLE:
        return BY_TABLE[table].spec
    return spec


def route_for_subject(subject: str) -> EventFamily | None:
    """Subject -> family; None means dead-letter (the reference Terms the
    message, i.e. silently discards — reference ``src/main.rs:68-72``;
    we keep the payload in a DLQ table instead)."""
    return BY_SUBJECT.get(subject)
