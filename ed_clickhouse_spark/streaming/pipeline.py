"""The ingestion pipeline: streaming source -> route -> decode -> append.

Spark retelling of the reference dataflow (SURVEY.md §3 EP1):

  reference                         this engine
  ---------                         -----------
  NATS JetStream pull consumer      readStream (file source in tests;
    (src/nats.rs:63-83)               any readStream source in prod)
  subject routing match             registry-driven filter per family
    (src/handler.rs:15-55)            (sources/registry.py)
  unknown subject -> Term/discard   -> _dlq table (strict upgrade)
    (src/main.rs:68-72)
  per-subject micro-batcher,        micro-batch trigger
    rows/bytes/1s triggers            (processingTime='1 second';
    (src/handler.rs:57-204)           rows-cap via maxFilesPerTrigger —
                                      no bytes knob, documented deviation)
  ClickHouse INSERT FORMAT          foreachBatch: decode_json + append
    Protobuf (src/click_house.rs)     under the table's spec (ddl.py)
  subjects flushed as independent   present families land on worker
    inserts, cpus*4 messages in       threads at once; one DLQ append
    flight (src/main.rs:41-48)        per batch
  ack/Nak/Term at-least-once        checkpointed offsets + append sink
    (src/handler.rs:119-135)          = at-least-once (stronger:
                                      effectively-once per batch)

The wire format of the test harness is JSON lines with columns
(subject, payload); payload is the JSON-encoded event (FIXTURES.md §B).
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ed_clickhouse_spark import ddl
from ed_clickhouse_spark.sources.decode import decode_json
from ed_clickhouse_spark.sources.registry import DLQ_SPEC, FAMILIES, EventFamily, table_spec

WIRE_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def append_events(
    df: DataFrame, warehouse: str, table: str, tables: dict | None = None
) -> DataFrame:
    """Append a decoded event batch to ``table`` under the spec
    :func:`~ed_clickhouse_spark.sources.registry.table_spec` picks from
    ``tables`` (an event table outside the registry gets the envelope's
    default layout). Returns the written batch."""
    spec = table_spec(table, tables) or EventFamily("", table).spec
    return ddl.append_rows(df, spec, warehouse)


def append_dlq(df: DataFrame, warehouse: str, reason: str | Column) -> None:
    """Dead-letter append: raw payload + subject + reason. The reference
    silently Terms these (``src/main.rs:70``, ``src/handler.rs:130``);
    keeping them queryable is a strict upgrade. ``reason`` is one string
    for the whole frame, or a column (``F.col("reason")``) when the frame
    carries a reason per row."""
    ddl.append_rows(
        df.select(
            F.col("subject"),
            F.col("payload").alias("raw_payload"),
            F.lit(reason).alias("reason"),
            F.current_timestamp().alias("dlq_at"),
        ),
        DLQ_SPEC,
        warehouse,
    )


def process_batch(
    batch: DataFrame,
    warehouse: str,
    views: dict | None = None,
    epoch_id: int | None = None,
    tables: dict | None = None,
) -> None:
    """Route one micro-batch: the present families decode + append
    concurrently, then everything unroutable or undecodable lands in the
    DLQ in one append.

    ``tables``: the table catalog (``Engine.table_specs``); each family
    is written under the spec ``table_spec`` picks from it, the one
    ``Engine`` serves it with. ``views``: table name -> insert triggers
    (``on_batch(batch, epoch_id=None)``), each fired on its family's
    written batch once every append has finished — the
    MV-fires-on-insert contract.

    The routing split is a set of subject filters over one cached batch —
    each family's filter prunes on the subject value; with a partitioned
    source (e.g. Kafka keyed by subject) each filter reads only its
    partitions. The reference's equivalent is the per-subject buffer map
    (src/handler.rs:93-104), each subject flushed as its own insert
    (src/handler.rs:106-156): here each present family lands on its own
    thread. A family whose append raises does not stop the others; the
    first error (in ``FAMILIES`` order) propagates once they are done and
    the DLQ append is skipped, so ``foreachBatch`` fails before its
    offsets commit and the whole batch is delivered again (≙ the
    reference's Nak)."""
    # Pin the batch for the routing probe + per-family filters, but only
    # if the CALLER hasn't already (foreachBatch hands us an uncached
    # frame; tests/benches may pre-cache the same plan). Tracking
    # ownership keeps the unpersist from evicting a caller-held cache
    # and stops the per-call "Asked to cache already cached data" churn.
    from pyspark import StorageLevel

    owned = batch.storageLevel == StorageLevel.NONE
    if owned:
        batch = batch.cache()
    pinned: list[DataFrame] = []  # decoded frames cached for their views

    def land(fam: EventFamily) -> tuple[DataFrame, DataFrame | None]:
        """Decode + append one family; returns the written batch and the
        family's decode-error rows (None when it has none)."""
        sub = batch.filter(F.col("subject") == fam.subject)
        decoded = decode_json(sub, fam)
        if (views or {}).get(fam.table):
            # the decoded frame is re-read per view — worth pinning
            decoded = decoded.cache()
            pinned.append(decoded)
        # Count corrupt rows DURING the append job (Observation metric at
        # the decode node) instead of a separate probe scan: the
        # clean-batch fast path — by far the common case — decodes and
        # writes in ONE pass with no cache materialization (measured
        # ~1.7x ingest throughput). Only a family that actually carries
        # corrupt rows pays a second decode pass, inside the DLQ append.
        obs = Observation(f"ingest_{fam.table}")
        good = (
            decoded.observe(obs, F.count(F.when(F.col("_corrupt"), 1)).alias("bad"))
            .filter(~F.col("_corrupt"))
            .drop("_corrupt", "_raw")
        )
        written = append_events(good, warehouse, fam.table, tables)
        if obs.get["bad"] == 0:
            return written, None
        bad = decode_json(sub, fam).filter(F.col("_corrupt"))
        return written, bad.select(
            F.lit(fam.subject).alias("subject"),
            F.col("_raw").alias("payload"),
            F.lit("decode_error").alias("reason"),
        )

    try:
        known = {f.subject for f in FAMILIES}
        # ONE action discovers which subjects this batch actually carries —
        # every other job below runs only for present families. (The naive
        # per-family probe-and-write costs ~20 Spark jobs per batch even
        # for single-subject batches; this shape measured ~6x higher
        # ingest throughput.)
        present = {
            r["subject"]
            for r in batch.select("subject").distinct().collect()
        }
        dead = []
        if present - known or None in present:
            dead.append(
                batch.filter(
                    ~F.col("subject").isin(list(known)) | F.col("subject").isNull()
                ).select("subject", "payload", F.lit("unroutable_subject").alias("reason"))
            )
        landing = [f for f in FAMILIES if f.subject in present]
        # Each family's append is a small Spark job made mostly of fixed
        # driver-side overhead; they write to different table and
        # projection paths, so they overlap safely, and Spark's scheduler
        # caps the real parallelism at the core count. The wrapper hands
        # each worker the caller's job group, description and pool.
        with ThreadPoolExecutor(max_workers=max(len(landing), 1)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(batch.sparkSession)(land), fam)
                for fam in landing
            ]
        # Insert triggers run here, on the calling thread and in FAMILIES
        # order: two views may append to the same TO target, whose path
        # must never see two writers at once. A family that did land
        # fires its triggers even when another failed, so a retried
        # batch duplicates its rows in the table and its views alike.
        errors = [f.exception() for f in futures if f.exception()]
        for fam, future in zip(landing, futures):
            if future.exception():
                continue
            written, bad = future.result()
            for view in (views or {}).get(fam.table, []):
                view.on_batch(written, epoch_id=epoch_id)
            if bad is not None:
                dead.append(bad)
        if errors:
            raise errors[0]
        if dead:
            append_dlq(functools.reduce(DataFrame.union, dead), warehouse, F.col("reason"))
    finally:
        for decoded in pinned:
            decoded.unpersist()
        if owned:
            batch.unpersist()


def files_per_trigger_for_bytes(
    spark: SparkSession, source_dir: str, bytes_per_trigger: int
) -> int:
    """Approximate the reference's bytes-based flush cap
    (``batcher.max_bytes=60MB``, src/handler.rs:145,188) for Spark's file
    source, which only has a files-per-trigger knob: observe the average
    size of the files currently in ``source_dir`` (Hadoop FS listing, any
    scheme) and return how many such files fit under the cap. Producers
    that roll files at a roughly constant size make this a tight bound;
    re-derive when file sizing changes."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(source_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return 1
    sizes = [
        st.getLen()
        for st in fs.listStatus(path)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    if not sizes:
        return 1
    avg = max(1, sum(sizes) // len(sizes))
    return max(1, int(bytes_per_trigger // avg))


def start_ingest(
    spark: SparkSession,
    source_dir: str,
    warehouse: str,
    checkpoint: str,
    max_files_per_trigger: int = 100,
    bytes_per_trigger: int | None = None,
    trigger_interval_ms: int = 1000,
    views: dict | None = None,
    tables: dict | None = None,
):
    """Start the streaming ingestion query.

    File-source stand-in for JetStream: JSON-lines files dropped into
    ``source_dir``. ``maxFilesPerTrigger`` is the rows-cap analog of the
    reference's 100k-row batch limit; ``bytes_per_trigger`` approximates
    its 60 MB bytes cap (config/default.toml:42) by deriving a files cap
    from observed file sizes — the smaller of the two wins. The trigger
    interval defaults to the reference's ``batcher.flush_interval_ms=1000``
    (config/default.toml:43). The checkpoint dir plays the
    durable-consumer role (at-least-once across restarts ≙ the JetStream
    durable name, config/default.toml:18)."""
    if bytes_per_trigger is not None:
        max_files_per_trigger = min(
            max_files_per_trigger,
            files_per_trigger_for_bytes(spark, source_dir, bytes_per_trigger),
        )
    stream = (
        spark.readStream.schema(WIRE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda batch, epoch: process_batch(
                batch, warehouse, views=views, epoch_id=epoch, tables=tables
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_interval_ms} milliseconds")
        .start()
    )


def kafka_to_wire(df: DataFrame) -> DataFrame:
    """Map a Kafka-shaped frame (key/value binary, topic string — the
    fixed schema of Spark's Kafka source) onto the wire contract
    ``(subject, payload)`` that :func:`process_batch` routes on.

    Subject = the record key when present (≙ JetStream subject carried
    per message), else the topic — so either keyed single-topic or
    topic-per-family layouts route identically."""
    return df.select(
        F.coalesce(F.col("key").cast("string"), F.col("topic")).alias("subject"),
        F.col("value").cast("string").alias("payload"),
    )


def start_ingest_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    warehouse: str,
    checkpoint: str,
    max_offsets_per_trigger: int = 100_000,
    starting_offsets: str = "earliest",
    trigger_interval_ms: int = 1000,
    views: dict | None = None,
    tables: dict | None = None,
):
    """Kafka ingestion mode — the production stand-in for the reference's
    NATS JetStream durable pull consumer (src/nats.rs:63-83). Knob map:

      JetStream (reference)              Spark Kafka source (here)
      ---------------------              -------------------------
      durable consumer name              checkpointLocation (offsets
        (config/default.toml:18)           committed after each batch)
      max_ack_pending=200k /             maxOffsetsPerTrigger
        batcher.max_rows=100k              (rows cap per micro-batch)
      max_deliver=3 (redelivery)         spark.task.maxFailures retries;
                                           poison batches -> DLQ rows
                                           instead of redelivery loops
      filter_subjects                    subscribe=<topics> + key routing
      ack after ClickHouse insert        offset commit after foreachBatch
        (at-least-once)                    returns (at-least-once)

    Requires the spark-sql-kafka connector on the classpath; the plan
    construction itself is connector-agnostic and covered by
    :func:`kafka_to_wire` + :func:`process_batch` tests."""
    stream = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return (
        kafka_to_wire(stream)
        .writeStream.foreachBatch(
            lambda batch, epoch: process_batch(
                batch, warehouse, views=views, epoch_id=epoch, tables=tables
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_interval_ms} milliseconds")
        .start()
    )
