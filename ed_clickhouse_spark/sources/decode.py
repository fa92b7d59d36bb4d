"""Payload decode (Layer A6 in SURVEY.md §2).

The reference never parses payloads — it ships raw protobuf bytes and
lets ClickHouse decode them against ``dto.proto``
(reference ``src/click_house.rs:61-92``). Our engine decodes inside the
stream: the JSON wire format is the test harness (``from_json`` with the
family's wire schema); protobuf decode (``from_protobuf``, Spark 3.4+)
plugs in behind the same interface when descriptor files are available.

Decode failures yield a null struct -> routed to the DLQ, mirroring the
reference's "Cannot parse" => permanent error => Term classification
(``src/handler.rs:206-212``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ed_clickhouse_spark.sources.registry import EventFamily


def decode_json(df: DataFrame, family: EventFamily, payload_col: str = "payload") -> DataFrame:
    """Decode JSON payloads for one family into typed columns.

    Output columns: the family's at-rest schema + ``_corrupt`` flag for
    rows whose payload didn't parse (null struct). The wire int64
    unix-seconds timestamp becomes TimestampType here — the same coercion
    ClickHouse applies during protobuf INSERT."""
    parsed = F.from_json(F.col(payload_col), family.wire_schema)
    return _typed(df, parsed, family, payload_col)


def _typed(
    df: DataFrame, parsed: Column, family: EventFamily, payload_col: str
) -> DataFrame:
    """The decoders' shared output contract: ``parsed`` (the decoded
    wire struct) projected to the family's typed columns — the int64
    unix-seconds timestamp becomes TimestampType — plus ``_corrupt``
    (null struct or no event_id) and ``_raw`` (the payload)."""
    out = df.withColumn("__p", parsed).withColumn(
        "_corrupt", F.col("__p").isNull() | F.col("__p.event_id").isNull()
    )
    cols = []
    for f in family.wire_schema.fields:
        c: Column = F.col(f"__p.{f.name}")
        if f.name == "timestamp":
            c = F.timestamp_seconds(c)
        cols.append(c.alias(f.name))
    return out.select(*cols, "_corrupt", F.col(payload_col).alias("_raw"))


def decode_protobuf(
    df: DataFrame, family: EventFamily, desc_file: str, payload_col: str = "payload"
) -> DataFrame:
    """Protobuf decode for one family — the reference's actual wire
    format (``INSERT ... FORMAT Protobuf`` against dto.proto,
    ``src/click_house.rs:75-78``). ``desc_file`` is a FileDescriptorSet,
    e.g. from :func:`ed_clickhouse_spark.sources.protodesc.build_descriptor_set`.

    Same output contract as :func:`decode_json`: typed columns +
    ``_corrupt`` + ``_raw``. Undecodable payloads null out (≙ "Cannot
    parse" -> Term).

    Two engines, JVM first: if the spark-protobuf connector jar is on the
    classpath, decode with ``from_protobuf`` (codegen'd); otherwise fall
    back to an Arrow-batched mapInPandas wire parser
    (:func:`protodesc.decode_event`) — the sanctioned slow path when no
    built-in expresses the operator."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf

        from ed_clickhouse_spark.sources.protodesc import message_name

        parsed = from_protobuf(
            F.col(payload_col),
            message_name(family),
            descFilePath=desc_file,
            options={"mode": "PERMISSIVE"},
        )
        result = _typed(df, parsed, family, payload_col)
        result.schema  # force analysis: raises if the jar is missing
        return result
    except Exception as e:
        # Fall back ONLY when the spark-protobuf connector itself is
        # absent (no jar on the classpath / module not shipped). A real
        # misconfiguration — bad desc_file path, malformed descriptor,
        # schema mismatch — must surface, not silently reroute to the
        # ~100x slower Python wire parser.
        missing_jar = isinstance(e, ImportError) or any(
            m in str(e)
            for m in (
                "PROTOBUF_NOT_LOADED",  # AnalysisException in this env
                "ClassNotFoundException",
                "NoClassDefFoundError",
            )
        )
        if not missing_jar:
            raise
        return _decode_protobuf_pandas(df, family, payload_col)


def _decode_protobuf_pandas(
    df: DataFrame, family: EventFamily, payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas protobuf wire parser (jar-free fallback)."""
    import pandas as pd

    from pyspark.sql import types as T

    from ed_clickhouse_spark.sources.protodesc import decode_event

    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in family.wire_schema.fields]
        + [
            T.StructField("_corrupt", T.BooleanType(), True),
            T.StructField("_raw", T.BinaryType(), True),
        ]
    )
    names = [f.name for f in family.wire_schema.fields]

    def op(batches):
        for pdf in batches:
            rows = []
            for raw in pdf[payload_col]:
                raw_b = bytes(raw) if raw is not None else b""
                try:
                    ev = decode_event(family, raw_b)
                    corrupt = "event_id" not in ev
                except ValueError:
                    ev, corrupt = {}, True
                rows.append(
                    {**{n: ev.get(n) for n in names}, "_corrupt": corrupt, "_raw": raw_b}
                )
            yield pd.DataFrame(rows, columns=names + ["_corrupt", "_raw"])

    decoded = df.mapInPandas(op, schema=out_schema)
    return decoded.withColumn("timestamp", F.timestamp_seconds(F.col("timestamp")))
