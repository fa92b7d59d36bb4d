"""Mutations + compaction: ALTER TABLE DELETE/UPDATE and OPTIMIZE TABLE.

ClickHouse users operate their MergeTree tables with mutations
(``ALTER TABLE events DELETE WHERE user_id = 42`` — the GDPR
right-to-be-forgotten path every event warehouse needs) and with
``OPTIMIZE TABLE`` to merge small parts.  On an append-only parquet
warehouse both are *partition-selective rewrites*, the same mechanics
ClickHouse mutations use (rewrite affected parts, leave the rest):

  * ``delete_where`` / ``update_where``: find the partitions that contain
    matching rows (one filter job — partition pruning applies when the
    predicate constrains the partition column), rewrite ONLY those
    directories via dynamic partition overwrite, leave all others
    untouched.  At 100 TB a predicate like ``event_date = X AND user_id
    = 42`` rewrites one day, not the table.
  * ``compact_partitions``: bin-pack each partition's many small files
    (streaming appends produce one file per micro-batch per day) into
    ~``target_mb`` outputs, preserving the ORDER BY sort — ClickHouse's
    background merge, on demand.

Non-partitioned tables degrade to a full rewrite, exactly like a
ClickHouse mutation on a table whose predicate spans every part.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ed_clickhouse_spark.ddl import write_order
from ed_clickhouse_spark.operators.rollup import _conf


def _partition_col(spark: SparkSession, path: str) -> str | None:
    """Detect the (single) hive-style partition column from directory
    names — driver-side listing only, no data read."""
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    for name in os.listdir(path):
        if "=" in name and not name.startswith(("_", ".")):
            return name.split("=", 1)[0]
    return None


def _affected_partitions(
    df: DataFrame, pcol: str, predicate: Column
) -> list:
    """Partition values containing at least one matching row. One
    aggregate job over the pruned scan (Catalyst pushes the predicate's
    partition-column conjuncts down to directory pruning)."""
    return [
        r[pcol]
        for r in df.filter(predicate).select(pcol).distinct().collect()
    ]


def _read_table(spark: SparkSession, path: str, read_schema=None, conform=None) -> DataFrame:
    """Rewrite-safe table read.  After a metadata-only RENAME COLUMN the
    directory holds files with BOTH column spellings; a footer-inferred
    read sees only one and a rewrite would silently drop the other
    vintage's values.  Spec-aware callers pass ``(read_schema, conform)``
    from ``ddl.mutation_read_args`` (declared schema + legacy stored
    names, coalesced to canonical columns); path-only callers get
    ``mergeSchema`` so every spelling survives — the footer sweep is
    noise next to the rewrite itself."""
    if read_schema is not None:
        df = spark.read.schema(read_schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    return conform(df) if conform is not None else df


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    read_schema=None,
    conform=None,
) -> int:
    """``ALTER TABLE <path> DELETE WHERE predicate``: rewrite only the
    partitions that hold matching rows, dropping those rows.  Returns the
    number of partitions rewritten (0 = no row matched, nothing touched).
    """
    return _mutate(
        spark, path, predicate, lambda df: df.filter(~predicate),
        read_schema=read_schema, conform=conform,
    )


def update_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    assignments: dict[str, Column],
    read_schema=None,
    conform=None,
) -> int:
    """``ALTER TABLE <path> UPDATE col = expr WHERE predicate``: rewrite
    matching partitions applying ``assignments`` to matching rows."""

    def apply(df: DataFrame) -> DataFrame:
        out = df
        for col, expr in assignments.items():
            out = out.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
        return out

    return _mutate(
        spark, path, predicate, apply, read_schema=read_schema, conform=conform
    )


def _mutate(spark, path: str, predicate: Column, transform, read_schema=None, conform=None) -> int:
    pcol = _partition_col(spark, path)
    df = _read_table(spark, path, read_schema, conform)
    if pcol is None:
        # unpartitioned: full rewrite through a staging dir (never leave
        # the table half-written if the job dies mid-rewrite)
        staged = transform(df)
        tmp = path.rstrip("/") + "__mutating"
        staged.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(path)
        os.rename(tmp, path)
        return 1
    hit = _affected_partitions(df, pcol, predicate)
    if not hit:
        return 0
    sub = df.filter(F.col(pcol).isin(hit))
    out = transform(sub)
    # dynamic overwrite only replaces partitions PRESENT in the output —
    # a partition whose every row was deleted writes nothing and would
    # survive untouched. Find those and drop their directories explicitly.
    survivors = {r[pcol] for r in out.select(pcol).distinct().collect()}
    with _conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        out.write.mode("overwrite").partitionBy(pcol).parquet(path)
    import shutil

    for v in hit:
        if v not in survivors:
            d = os.path.join(path, f"{pcol}={v}")
            if os.path.exists(d):
                shutil.rmtree(d)
    return len(hit)


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    sort_cols: list[str] | None = None,
    partitions: list | None = None,
    dedup: bool = False,
    dedup_cols: list[str] | None = None,
    read_schema=None,
    conform=None,
) -> int:
    """``OPTIMIZE TABLE``: bin-pack each partition's files into
    ~``target_mb`` outputs, re-sorting by ``sort_cols`` (the table's
    ORDER BY) so row-group stats stay tight.  ``partitions`` limits the
    pass to specific partition values (``OPTIMIZE ... PARTITION p``).

    ``dedup`` implements ClickHouse's ``OPTIMIZE ... DEDUPLICATE``:
    drop exact-duplicate rows (or one survivor per ``dedup_cols`` key
    for ``DEDUPLICATE BY``) during the rewrite.  Like ClickHouse, the
    dedup is per PARTITION — the partition column joins the key, so a
    row never vanishes because of a twin in a different partition (and
    the rewrite stays partition-local for dynamic overwrite).

    Returns partitions rewritten."""

    def _dedup(frame: DataFrame, pcol: str | None) -> DataFrame:
        if not dedup:
            return frame
        if dedup_cols:
            key = list(dedup_cols)
            if pcol and pcol not in key:
                key.append(pcol)
            return frame.dropDuplicates(key)
        return frame.dropDuplicates()

    pcol = _partition_col(spark, path)
    df = _read_table(spark, path, read_schema, conform)
    if pcol is None:
        total = sum(
            f.stat().st_size
            for f in os.scandir(path)
            if f.name.endswith(".parquet")
        )
        n_out = max(1, round(total / (target_mb << 20)))
        out = _dedup(df, None).coalesce(n_out)
        if sort_cols:
            out = write_order(out, sort_cols)
        tmp = path.rstrip("/") + "__compacting"
        out.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(path)
        os.rename(tmp, path)
        return 1
    targets = partitions
    if targets is None:
        targets = [
            name.split("=", 1)[1]
            for name in os.listdir(path)
            if name.startswith(f"{pcol}=")
        ]
    if not targets:
        return 0
    sub = _dedup(df.filter(F.col(pcol).isin(targets)), pcol)
    # one output file per target_mb of input per partition: repartition by
    # the partition column so each directory is written by few tasks, then
    # maxRecordsPerFile caps runaway files. (A global coalesce would serialize
    # unrelated partitions through the same tasks.)
    out = sub.repartition(max(len(targets), 1), F.col(pcol))
    if sort_cols:
        out = write_order(out, sort_cols, [pcol])
    with _conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        out.write.mode("overwrite").partitionBy(pcol).parquet(path)
    return len(targets)


def drop_partition(spark: SparkSession, path: str, value) -> bool:
    """ClickHouse ``ALTER TABLE ... DROP PARTITION 'v'``: remove one
    partition DIRECTORY — a metadata-speed delete (no rewrite, no scan;
    the reason CH users partition by month in the first place). Returns
    True if the partition existed. Invalidates cached plans on the
    table path, like the other mutations."""
    pc = _partition_col(spark, path)
    if pc is None:
        raise ValueError(f"table at {path!r} is not partitioned")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{pc}={value}")
    fs = p.getFileSystem(conf)
    existed = bool(fs.exists(p))
    if existed:
        fs.delete(p, True)
        spark.catalog.refreshByPath(path)
    return existed
