"""Tests for the incremental materialized rollup: only changed days
re-aggregate; late appends to an old day refresh exactly that day."""

from __future__ import annotations

from pyspark.sql import functions as F

from ed_clickhouse_spark.operators.rollup import IncrementalRollup
from ed_clickhouse_spark.streaming.pipeline import append_events


def _events(spark, day: int, n: int, name="login"):
    rows = [(f"e{day}-{i}", name, f"2024-02-0{day} 10:00:{i:02d}") for i in range(n)]
    return spark.createDataFrame(
        rows, "event_id string, event_name string, ts string"
    ).select("event_id", "event_name", F.col("ts").cast("timestamp").alias("timestamp"))


def test_incremental_refresh(spark, tmp_path):
    src = str(tmp_path / "login_events")
    dest = str(tmp_path / "rollup_daily")
    append_events(_events(spark, 1, 3), str(tmp_path), "login_events")
    append_events(_events(spark, 2, 5), str(tmp_path), "login_events")

    ru = IncrementalRollup(
        spark, src, dest,
        dims=["event_name"],
        aggs={"n_events": "count(*)", "n_ids": "count(distinct event_id)"},
    )
    assert ru.refresh() == ["2024-02-01", "2024-02-02"]
    got = {r["event_date"].isoformat(): r["n_events"] for r in ru.read().collect()}
    assert got == {"2024-02-01": 3, "2024-02-02": 5}

    # nothing changed -> no work
    assert ru.refresh() == []

    # new day arrives -> only that day refreshes
    append_events(_events(spark, 3, 2), str(tmp_path), "login_events")
    assert ru.refresh() == ["2024-02-03"]

    # LATE append to day 1 -> exactly day 1 re-aggregates, result correct
    append_events(_events(spark, 1, 4, name="login2"), str(tmp_path), "login_events")
    assert ru.refresh() == ["2024-02-01"]
    rows = {
        (r["event_date"].isoformat(), r["event_name"]): r["n_events"]
        for r in ru.read().collect()
    }
    assert rows[("2024-02-01", "login")] == 3
    assert rows[("2024-02-01", "login2")] == 4
    assert rows[("2024-02-02", "login")] == 5
    assert rows[("2024-02-03", "login")] == 2


def test_rollup_with_mergeable_hll_states(spark, tmp_path):
    """AggregatingMergeTree end-to-end: the rollup stores a binary HLL
    state per (day, event_name); reads merge states up to any coarser
    grouping (uniqMerge) without touching raw events; an incremental
    day refresh extends the mergeable history."""
    src = str(tmp_path / "login_events")
    dest = str(tmp_path / "rollup_uniq")
    # users overlap across days: distinct-over-merge must dedup them
    def ev(day, users):
        rows = [(f"u{u}", "login", f"2024-02-0{day} 09:00:{i:02d}") for i, u in enumerate(users)]
        return spark.createDataFrame(
            rows, "event_id string, event_name string, ts string"
        ).select("event_id", "event_name", F.col("ts").cast("timestamp").alias("timestamp"))

    append_events(ev(1, [1, 2, 3]), str(tmp_path), "login_events")
    append_events(ev(2, [2, 3, 4]), str(tmp_path), "login_events")

    ru = IncrementalRollup(
        spark, src, dest,
        dims=["event_name"],
        aggs={"uniq_state": "hll_sketch_agg(event_id, 12)"},
    )
    ru.refresh()
    merged = (
        ru.read()
        .groupBy("event_name")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(uniq_state))").alias("u"))
        .collect()
    )
    assert {(r["event_name"], r["u"]) for r in merged} == {("login", 4)}

    # incremental: a new day with one new user -> merge sees 5
    append_events(ev(3, [4, 5]), str(tmp_path), "login_events")
    assert ru.refresh() == ["2024-02-03"]
    u = (
        ru.read()
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(uniq_state))").alias("u"))
        .collect()[0]["u"]
    )
    assert u == 5
