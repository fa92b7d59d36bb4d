"""Multi-format table IO (SURVEY.md §2 B1 sources/sinks).

The reference reads protobuf from NATS and writes to ClickHouse over
HTTP; its query users read MergeTree. This engine's at-rest format is
parquet (the table write policy is ``ddl.append_rows``); these helpers round
out the batch source/sink surface: parquet, ORC, JSON-lines, CSV — all
schema-explicit (never infer in production: a schema scan over 100 TB is
a full extra read).

Delta/Iceberg/Hudi need their connector jars, absent from this
environment — ``read_table``/``write_table`` raise a clear error for
those formats rather than silently degrading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ed_clickhouse_spark.ddl import write_order

_LAKE_FORMATS = {"delta", "iceberg", "hudi"}
FORMATS = {"parquet", "orc", "json", "csv"}

# ClickHouse format-name spellings (SELECT ... FORMAT X / INSERT ...
# FORMAT X) -> (spark format, implied options). "Native" maps to parquet:
# both are the engine's own columnar at-rest representation.
CH_FORMATS: dict[str, tuple[str, dict]] = {
    "jsoneachrow": ("json", {}),
    "ndjson": ("json", {}),
    "csv": ("csv", {"header": "false"}),
    "csvwithnames": ("csv", {"header": "true"}),
    "tsv": ("csv", {"header": "false", "sep": "\t"}),
    "tabseparated": ("csv", {"header": "false", "sep": "\t"}),
    "tsvwithnames": ("csv", {"header": "true", "sep": "\t"}),
    "tabseparatedwithnames": ("csv", {"header": "true", "sep": "\t"}),
    "parquet": ("parquet", {}),
    "orc": ("orc", {}),
    "native": ("parquet", {}),
}


def _resolve_format(fmt: str, options: dict) -> str:
    """Translate a ClickHouse format spelling to (spark format) and fold
    its implied options into ``options`` (explicit options win)."""
    ch = CH_FORMATS.get(fmt.lower())
    if ch is None:
        return fmt.lower()
    spark_fmt, implied = ch
    for k, v in implied.items():
        options.setdefault(k, v)
    return spark_fmt


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    fmt = _resolve_format(fmt, options)
    if fmt in _LAKE_FORMATS:
        raise NotImplementedError(
            f"{fmt} requires its connector jar on the Spark classpath "
            "(not bundled in this environment)"
        )
    if fmt not in FORMATS:
        raise ValueError(
            f"unknown format {fmt!r}; supported: {sorted(FORMATS)} "
            f"+ ClickHouse spellings {sorted(CH_FORMATS)}"
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in {"json", "csv"}:
        raise ValueError(
            f"{fmt} needs an explicit schema (schema inference re-reads "
            "the whole dataset — never at scale)"
        )
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_bucketed(
    df,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (hash-partitioned-on-disk) table via the session
    catalog. Two tables bucketed the same way equi-join on the bucket
    columns WITHOUT a shuffle exchange — the physical layout carries the
    partitioning, which is the 100 TB answer for repeated fact-fact joins
    (e.g. lineitem ⋈ orders on orderkey). Requires saveAsTable (bucket
    metadata lives in the catalog, not the parquet files)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    **options,
) -> None:
    fmt = _resolve_format(fmt, options)
    if fmt in _LAKE_FORMATS:
        raise NotImplementedError(
            f"{fmt} requires its connector jar on the Spark classpath"
        )
    if fmt not in FORMATS:
        raise ValueError(
            f"unknown format {fmt!r}; supported: {sorted(FORMATS)} "
            f"+ ClickHouse spellings {sorted(CH_FORMATS)}"
        )
    if sort_within:
        df = write_order(df, sort_within, partition_by or [])
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)
