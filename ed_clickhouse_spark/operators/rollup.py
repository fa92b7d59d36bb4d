"""Incremental materialized rollups (the "hypertable rollup" operator).

ClickHouse deployments like the reference's pair raw MergeTree event
tables with materialized views that maintain pre-aggregated rollups
(daily counts per platform, watch-minutes per item, ...). Spark has no
materialized views; at 100 TB you cannot re-aggregate history on every
refresh either. This operator maintains a rollup table **incrementally
by partition**:

  * the source is a date-partitioned event table (the engine's write
    layout, ``registry.EventFamily.spec`` written by ``ddl.append_rows``);
  * a refresh lists source partitions and compares a per-partition
    fingerprint (file count + names) against the rollup's saved state —
    only new or changed days are re-aggregated;
  * results are written with dynamic partition overwrite, so refreshing
    a day is idempotent (late-arriving appends to an old day simply
    re-aggregate that day).

The aggregation spec is restricted to per-partition-closed expressions
(any groupBy within one day) — what makes per-day refresh sound without
cross-partition merge logic.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATE_FILE = "_rollup_state.json"


class IncrementalRollup:
    """Maintain ``dest_path`` = groupBy(event_date, *dims).agg(*aggs)
    over a date-partitioned source, refreshing only changed days."""

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        dest_path: str,
        dims: list[str],
        aggs: dict[str, str],
        partition_col: str = "event_date",
    ):
        """``aggs``: output column -> SQL aggregate expression, e.g.
        {"n_events": "count(*)", "watch_s": "sum(video_position)"}."""
        self.spark = spark
        self.source_path = source_path
        self.dest_path = dest_path
        self.dims = dims
        self.aggs = aggs
        self.partition_col = partition_col

    # -- filesystem (Hadoop FS API: local, HDFS, s3a, ... uniformly) ------
    def _fs(self, path_str: str):
        """(FileSystem, Path) for any Hadoop-supported scheme. Listing and
        state I/O go through this so a cloud warehouse path behaves
        exactly like file:// — driver-local os.listdir would silently see
        zero partitions on HDFS/S3."""
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(path_str)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, path

    # -- state ------------------------------------------------------------
    def _state_path(self) -> str:
        return self.dest_path.rstrip("/") + "/" + _STATE_FILE

    def _load_state(self) -> dict[str, str]:
        fs, p = self._fs(self._state_path())
        if not fs.exists(p):
            return {}
        stream = fs.open(p)
        try:
            raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        try:
            return json.loads(raw)
        except json.JSONDecodeError:
            return {}

    def _save_state(self, state: dict[str, str]) -> None:
        fs, dest = self._fs(self.dest_path)
        fs.mkdirs(dest)
        _, p = self._fs(self._state_path())
        out = fs.create(p, True)
        try:
            out.write(json.dumps(state, sort_keys=True).encode("utf-8"))
        finally:
            out.close()

    def _source_partitions(self) -> dict[str, str]:
        """partition value -> fingerprint (sorted data-file names).

        Driver-side FS listing: one cheap listing per refresh, no data
        read. At cloud-storage scale this is the same listing the parquet
        reader performs anyway."""
        out: dict[str, str] = {}
        prefix = f"{self.partition_col}="
        fs, root = self._fs(self.source_path)
        if not fs.exists(root):
            return out
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith(prefix)):
                continue
            files = sorted(
                f.getPath().getName()
                for f in fs.listStatus(st.getPath())
                if not f.getPath().getName().startswith(("_", "."))
            )
            out[name[len(prefix):]] = ",".join(files)
        return out

    # -- refresh ----------------------------------------------------------
    def refresh(self) -> list[str]:
        """Re-aggregate new/changed partitions; returns the partition
        values refreshed (empty list = rollup already current)."""
        state = self._load_state()
        current = self._source_partitions()
        dirty = [p for p, fp in current.items() if state.get(p) != fp]
        if not dirty:
            return []
        src = self.spark.read.parquet(self.source_path).filter(
            F.col(self.partition_col).isin(dirty)
        )
        agged = src.groupBy(self.partition_col, *self.dims).agg(
            *[F.expr(expr).alias(name) for name, expr in self.aggs.items()]
        )
        # dynamic overwrite replaces exactly the refreshed day partitions
        with _conf(self.spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            (
                agged.write.mode("overwrite")
                .partitionBy(self.partition_col)
                .parquet(self.dest_path)
            )
        state.update({p: current[p] for p in dirty})
        self._save_state(state)
        return sorted(dirty)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.dest_path)


class _conf:
    """Temporarily set a runtime SQL conf (restored on exit)."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.key)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.prev)
