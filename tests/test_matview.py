"""Streaming materialized view (ClickHouse MV / AggregatingMergeTree
parity): insert-time partial states, read-time merge, lossless
compaction — verified end-to-end through the ingestion pipeline."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ed_clickhouse_spark.streaming.matview import StreamingMatView
from ed_clickhouse_spark.streaming.pipeline import start_ingest

from tests.test_ingest import _envelope


@pytest.fixture()
def mv_setup(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    mv = StreamingMatView(
        spark,
        str(tmp_path / "mv_login"),
        dims=["platform"],
        sums={"unix_timestamp(timestamp)": "sum_ts"},
        maxs={"unix_timestamp(timestamp)": "max_ts"},
        distinct_entity="user_id",
    )
    return src, wh, ckpt, mv


def _write_batch(src, fname, start, n, platform="web"):
    lines = []
    for i in range(start, start + n):
        ev = _envelope(i, "login", 1_700_000_000 + i)
        ev["platform"] = platform
        lines.append(json.dumps({"subject": "events.login", "payload": json.dumps(ev)}))
    with open(src / fname, "w") as f:
        f.write("\n".join(lines))


def test_matview_tracks_ingest_batches(spark, mv_setup):
    src, wh, ckpt, mv = mv_setup
    _write_batch(src, "b1.json", 0, 6, "web")
    _write_batch(src, "b2.json", 100, 4, "ios")
    q = start_ingest(
        spark, str(src), wh, ckpt,
        max_files_per_trigger=1,  # two separate micro-batches
        views={"login_events": [mv]},
    )
    q.processAllAvailable()
    q.stop()

    raw = spark.read.parquet(f"{wh}/login_events")
    expect = {
        (r["platform"]): (r["n"], r["d"])
        for r in raw.groupBy("platform")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("d"))
        .collect()
    }
    got = {
        r["platform"]: (r["n_rows"], r["est_distinct"])
        for r in mv.read().collect()
    }
    # small cardinalities: HLL estimate is exact
    assert got == expect
    # merge to the empty grouping (global) also works from states
    total = mv.read(keys=[]).collect()[0]
    assert total["n_rows"] == 10
    # sum/max states merged correctly vs direct aggregation
    direct = raw.agg(
        F.sum(F.unix_timestamp("timestamp")).alias("s"),
        F.max(F.unix_timestamp("timestamp")).alias("m"),
    ).collect()[0]
    assert total["sum_ts"] == direct["s"]
    assert total["max_ts"] == direct["m"]


def test_matview_compact_is_lossless(spark, mv_setup):
    src, wh, ckpt, mv = mv_setup
    _write_batch(src, "b1.json", 0, 5, "web")
    _write_batch(src, "b2.json", 50, 5, "web")
    _write_batch(src, "b3.json", 100, 5, "android")
    q = start_ingest(
        spark, str(src), wh, ckpt,
        max_files_per_trigger=1,
        views={"login_events": [mv]},
    )
    q.processAllAvailable()
    q.stop()

    before = {tuple(r) for r in mv.read().collect()}
    n_state_rows = spark.read.parquet(mv.dest_path).count()
    assert n_state_rows >= 3  # one partial row per (batch, platform)
    n_after = mv.compact()
    # archive-fold: committed epochs merge to one row per group, the
    # newest epoch's partition survives for replay safety => bounded at
    # ~2 rows per platform regardless of batch count
    assert n_after <= 2 * 2 and n_after < n_state_rows + 1
    assert {tuple(r) for r in mv.read().collect()} == before
    # states remain mergeable after compaction: append another epoch
    mv.on_batch(spark.read.parquet(f"{wh}/login_events"), epoch_id=99)
    assert mv.read(keys=[]).collect()[0]["n_rows"] == 30


def test_streaming_topk_through_ingest(spark, tmp_path):
    """StreamingTopK plugs into the same views= insert hook as MVs:
    heavy hitters maintained per micro-batch through the real pipeline,
    answered from state only."""
    from ed_clickhouse_spark.streaming.topk import StreamingTopK

    src = tmp_path / "src"
    src.mkdir()
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    hh = StreamingTopK(
        spark, str(tmp_path / "hh"), "user_id", width=256, depth=4,
        m_candidates=5,
    )
    # batch 1: user u7 dominates; batch 2: user u9 dominates
    def _ev(i, ts, uid):
        ev = _envelope(i, "login", ts)
        ev["user_id"] = uid
        return json.dumps({"subject": "events.login", "payload": json.dumps(ev)})

    (src / "b1.json").write_text("\n".join(
        _ev(i, 1_700_000_000 + i, "u7" if i % 4 else f"x{i}") for i in range(12)
    ))
    (src / "b2.json").write_text("\n".join(
        _ev(100 + i, 1_700_001_000 + i, "u9") for i in range(10)
    ))
    q = start_ingest(
        spark, str(src), wh, ckpt,
        max_files_per_trigger=1,
        views={"login_events": [hh]},
    )
    q.processAllAvailable()
    q.stop()

    raw = spark.read.parquet(f"{wh}/login_events")
    true = {r["user_id"]: r["n"] for r in
            raw.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    got = {r["user_id"]: r["est_count"] for r in hh.topk(2).collect()}
    assert set(got) == {"u7", "u9"}
    for uid, est in got.items():
        assert est >= true[uid]  # CMS never undercounts


def test_matview_epoch_mode_replay_idempotent(spark, tmp_path):
    """Exactly-once partial states: replaying a batch with the same
    epoch overwrites its own partial instead of double-counting, and
    per-epoch compaction preserves both totals and replay safety."""
    mv = StreamingMatView(
        spark, str(tmp_path / "mv"), dims=["k"],
        sums={"v": "sum_v"},
    )
    b1 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], ["k", "v"])
    b2 = spark.createDataFrame([("a", 10)], ["k", "v"])
    mv.on_batch(b1, epoch_id=0)
    mv.on_batch(b2, epoch_id=1)
    want = {r["k"]: (r["n_rows"], r["sum_v"]) for r in mv.read().collect()}
    assert want == {"a": (3, 13), "b": (1, 5)}
    # replay epoch 0 (at-least-once delivery after a crash): unchanged
    mv.on_batch(b1, epoch_id=0)
    got = {r["k"]: (r["n_rows"], r["sum_v"]) for r in mv.read().collect()}
    assert got == want
    # compaction archive-folds committed epochs, keeps the newest: totals
    # unchanged, and replaying the NEWEST epoch (the only one Structured
    # Streaming can replay) is still idempotent
    mv.compact()
    assert {r["k"]: (r["n_rows"], r["sum_v"]) for r in mv.read().collect()} == want
    mv.on_batch(b2, epoch_id=1)
    assert {r["k"]: (r["n_rows"], r["sum_v"]) for r in mv.read().collect()} == want


def test_streaming_topk_epoch_mode_replay_idempotent(spark, tmp_path):
    from ed_clickhouse_spark.streaming.topk import StreamingTopK

    hh = StreamingTopK(spark, str(tmp_path / "hh"), "tok", width=64,
                       depth=2, m_candidates=5)
    b = spark.createDataFrame([("x",)] * 7 + [("y",)] * 2, ["tok"])
    hh.on_batch(b, epoch_id=0)
    hh.on_batch(b, epoch_id=0)  # replay
    got = {r["tok"]: r["est_count"] for r in hh.topk(2).collect()}
    assert got == {"x": 7, "y": 2}  # counted once, not twice


def test_materialized_view_to_table(spark, tmp_path):
    """Round-7 batch 43 capstone: the ``CREATE MATERIALIZED VIEW mv TO
    target`` form — ClickHouse's canonical rollup pair. The body's
    -State aggregates re-run per inserted batch against the BATCH
    (insert-trigger semantics) and append into the AggregatingMergeTree
    target; -Merge reads over the target must equal the direct
    aggregates across multiple inserted parts; the MV name aliases the
    target. A TO table that does not exist refuses (CH requires the
    same)."""
    import pytest

    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE src (k String, u String, v Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql(
        "CREATE TABLE rollup (k String,"
        " uu AggregateFunction(uniq, String),"
        " total AggregateFunction(sum, Int64))"
        " ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    with pytest.raises(KeyError, match="does not exist"):
        eng.ch_sql("CREATE MATERIALIZED VIEW mbad TO nope AS"
                   " SELECT k, sumState(v) AS total FROM src GROUP BY k")
    eng.ch_sql(
        "CREATE MATERIALIZED VIEW mv_roll TO rollup AS SELECT k,"
        " uniqState(u) AS uu, sumState(v) AS total FROM src GROUP BY k"
    )
    eng.ch_sql('INSERT INTO src FORMAT JSONEachRow\n'
               '{"k":"a","u":"u1","v":10}\n{"k":"a","u":"u2","v":20}')
    eng.ch_sql('INSERT INTO src FORMAT JSONEachRow\n'
               '{"k":"a","u":"u1","v":5}\n{"k":"b","u":"u3","v":7}')
    r = eng.ch_sql(
        "SELECT k, uniqMerge(uu) AS uu, sumMerge(total) AS t"
        " FROM rollup GROUP BY k ORDER BY k"
    ).collect()
    assert r[0]["uu"] == 2 and r[0]["t"] == 35
    assert r[1]["uu"] == 1 and r[1]["t"] == 7
    # the MV name aliases the target table (TO stores nothing itself)
    assert eng.ch_sql("SELECT count() AS c FROM mv_roll"
                      ).collect()[0]["c"] == 2


def test_to_table_mv_batch_split_invariance(spark, tmp_path):
    """The TO-MV trigger must be a homomorphism over insert batching:
    any split of the fact rows into insert batches merges to the same
    -Merge readback (the property AggregatingMergeTree's correctness
    rests on — each batch writes one part, parts merge per key).
    Three different splits of 12 rows cross-checked against the direct
    aggregates."""
    import json

    from ed_clickhouse_spark.engine import Engine

    rows = [
        {"k": ["a", "b", "c"][i % 3], "u": f"u{i % 4}", "v": i * 3 + 1}
        for i in range(12)
    ]

    def direct():
        agg = {}
        for r in rows:
            users, tot = agg.setdefault(r["k"], (set(), 0))
            agg[r["k"]] = (users | {r["u"]}, tot + r["v"])
        return {k: (len(us), t) for k, (us, t) in agg.items()}

    want = direct()
    for si, split_at in enumerate([[12], [4, 12], [1, 2, 7, 12]]):
        eng = Engine(str(tmp_path / f"wh{si}"), spark)
        eng.ch_sql("CREATE TABLE src (k String, u String, v Int64)"
                   " ENGINE = MergeTree() ORDER BY (k)")
        eng.ch_sql(
            "CREATE TABLE roll (k String,"
            " uu AggregateFunction(uniqExact, String),"
            " total AggregateFunction(sum, Int64))"
            " ENGINE = AggregatingMergeTree() ORDER BY (k)"
        )
        eng.ch_sql(
            "CREATE MATERIALIZED VIEW mvr TO roll AS SELECT k,"
            " uniqExactState(u) AS uu, sumState(v) AS total"
            " FROM src GROUP BY k"
        )
        lo = 0
        for hi in split_at:
            payload = "\n".join(json.dumps(r) for r in rows[lo:hi])
            eng.ch_sql(f"INSERT INTO src FORMAT JSONEachRow\n{payload}")
            lo = hi
        got = {
            r["k"]: (r["uu"], r["t"])
            for r in eng.ch_sql(
                "SELECT k, uniqExactMerge(uu) AS uu,"
                " sumMerge(total) AS t FROM roll GROUP BY k"
            ).collect()
        }
        assert got == want, (split_at, got, want)


def test_to_table_mv_cte_body_binds_real_source(spark, tmp_path):
    """ADVICE r9: a WITH-CTE body (WITH f AS (SELECT ... FROM src)
    SELECT ... FROM f) must bind spec.source to the REAL feeding
    table src — not the CTE name f — so the insert trigger fires on
    inserts into src and the batch rebind lands on the CTE's FROM.
    Chained CTEs resolve transitively."""
    import json

    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE src (k String, v Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql(
        "CREATE TABLE roll (k String,"
        " total AggregateFunction(sum, Int64))"
        " ENGINE = AggregatingMergeTree() ORDER BY (k)"
    )
    eng.ch_sql(
        "CREATE MATERIALIZED VIEW mv_cte TO roll AS"
        " WITH f AS (SELECT k, v FROM src WHERE v > 0),"
        " g AS (SELECT k, v FROM f)"
        " SELECT k, sumState(v) AS total FROM g GROUP BY k"
    )
    assert eng.matviews["mv_cte"].spec.source == "src"
    rows = [{"k": "a", "v": 10}, {"k": "a", "v": -5}, {"k": "b", "v": 7}]
    payload = "\n".join(json.dumps(r) for r in rows)
    eng.ch_sql(f"INSERT INTO src FORMAT JSONEachRow\n{payload}")
    got = {
        r["k"]: r["t"]
        for r in eng.ch_sql(
            "SELECT k, sumMerge(total) AS t FROM roll GROUP BY k"
        ).collect()
    }
    assert got == {"a": 10, "b": 7}


def test_to_table_mv_refuses_populate(spark, tmp_path):
    """ADVICE r7: ClickHouse rejects POPULATE with the TO clause
    ("POPULATE is not supported with TO [db].[table]") — so do we,
    pointing at the INSERT INTO ... SELECT backfill path."""
    import pytest

    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE src (k String, v Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql("CREATE TABLE roll (k String,"
               " total AggregateFunction(sum, Int64))"
               " ENGINE = AggregatingMergeTree() ORDER BY (k)")
    with pytest.raises(ValueError, match="POPULATE is not allowed"):
        eng.ch_sql("CREATE MATERIALIZED VIEW mvp TO roll POPULATE AS"
                   " SELECT k, sumState(v) AS total FROM src GROUP BY k")
    # and the refusal left no trigger behind
    assert "mvp" not in eng.matviews


def test_to_table_mv_self_join_rebinds_first_from_only(spark, tmp_path):
    """ADVICE r7: a TO-MV body that self-joins its source must rebind
    only the FIRST (leftmost) FROM reference to the inserted batch —
    ClickHouse feeds the inserted block to the leftmost table while
    the join's other references read the STORED table. Verified by
    inserting two batches and checking the second batch joins against
    the full stored contents, not just itself."""
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE src (k String, v Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql("CREATE TABLE pairs (k String, n AggregateFunction("
               "count, UInt64)) ENGINE = AggregatingMergeTree()"
               " ORDER BY (k)")
    # per inserted row, count how many STORED rows share its key
    eng.ch_sql(
        "CREATE MATERIALIZED VIEW mvj TO pairs AS"
        " SELECT b.k AS k, countState() AS n"
        " FROM src AS b JOIN (SELECT k FROM src) AS s ON b.k = s.k"
        " GROUP BY b.k"
    )
    eng.ch_sql('INSERT INTO src FORMAT JSONEachRow\n{"k":"a","v":1}')
    # batch 2: joins against stored src (now 2 'a' rows incl itself)
    eng.ch_sql('INSERT INTO src FORMAT JSONEachRow\n{"k":"a","v":2}')
    r = eng.ch_sql("SELECT k, countMerge(n) AS c FROM pairs"
                   " GROUP BY k").collect()
    # batch1: 1 row x 1 stored; batch2: 1 row x 2 stored = 3 total
    assert r[0]["k"] == "a" and r[0]["c"] == 3


def test_mv_to_scalar_subquery_not_rebound(spark, tmp_path):
    """ADVICE r8: a scalar subquery over the source table in the SELECT
    list must NOT swallow the batch rebind — ClickHouse feeds the
    inserted block to the outer query's main FROM; inner references
    read the STORED table. Here max(v) over the stored table includes
    earlier parts while the row stream is the new batch only."""
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE src2 (k String, v Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql("CREATE TABLE out2 (k String, v Int64, mx Int64)"
               " ENGINE = MergeTree() ORDER BY (k)")
    eng.ch_sql(
        "CREATE MATERIALIZED VIEW mv_sub TO out2 AS SELECT k, v,"
        " (SELECT max(v) FROM src2) AS mx FROM src2"
    )
    eng.ch_sql('INSERT INTO src2 FORMAT JSONEachRow\n{"k":"a","v":100}')
    eng.ch_sql('INSERT INTO src2 FORMAT JSONEachRow\n{"k":"b","v":1}')
    got = {r["k"]: (r["v"], r["mx"])
           for r in eng.ch_sql("SELECT * FROM out2").collect()}
    # second batch: one row (the batch), mx = 100 from the stored table
    assert got == {"a": (100, 100), "b": (1, 100)}


def test_migration_to_table_mv_matches_ch_sql(spark, tmp_path):
    """A ``CREATE MATERIALIZED VIEW mv TO tgt`` in a migration file
    builds the same insert trigger ch_sql builds: inserts into the
    source land in the TO table, not in a self-storing view."""
    from ed_clickhouse_spark.engine import Engine, _ToTableMV

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_mv.up.sql").write_text(
        "CREATE TABLE src (ts DateTime, k String)"
        " ENGINE = MergeTree() ORDER BY ts;\n"
        "CREATE TABLE tgt (d Date, n AggregateFunction(count))"
        " ENGINE = AggregatingMergeTree() ORDER BY d;\n"
        "CREATE MATERIALIZED VIEW mv TO tgt AS SELECT toDate(ts) AS d,"
        " countState() AS n FROM src GROUP BY d;\n"
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    assert isinstance(eng.matviews["mv"], _ToTableMV)
    eng.ch_sql(
        'INSERT INTO src FORMAT JSONEachRow\n'
        '{"ts":"2024-01-01 10:00:00","k":"a"}\n'
        '{"ts":"2024-01-01 11:00:00","k":"b"}'
    )
    got = eng.ch_sql("SELECT d, countMerge(n) AS n FROM tgt GROUP BY d").collect()
    assert [(str(r["d"]), r["n"]) for r in got] == [("2024-01-01", 2)]
