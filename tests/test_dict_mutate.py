"""dictGet broadcast dictionaries + mutations (DELETE/UPDATE/OPTIMIZE)."""

import os

import pytest
from pyspark.sql import functions as F

from ed_clickhouse_spark.operators import dictionary as D
from ed_clickhouse_spark.operators.mutate import (
    compact_partitions,
    delete_where,
    update_where,
)


def test_dict_get_and_has(spark):
    dic = spark.createDataFrame(
        [(1, "fr", "Europe"), (2, "jp", "Asia")], ["geo_id", "cc", "region"]
    )
    D.register_dict("geo", dic, "geo_id")
    facts = spark.createDataFrame([(10, 1), (11, 2), (12, 99)], ["ev", "g"])

    got = {
        r["ev"]: (r["cc"], r["region"])
        for r in D.dict_get(facts, "geo", ["cc", "region"], "g").collect()
    }
    assert got[10] == ("fr", "Europe")
    assert got[11] == ("jp", "Asia")
    assert got[12] == (None, None)  # dictGetOrNull semantics

    withdef = D.dict_get(facts, "geo", "cc", "g", default={"cc": "??"})
    assert {r["ev"]: r["cc"] for r in withdef.collect()}[12] == "??"

    has = {r["ev"]: r["has"] for r in D.dict_has(facts, "geo", "g").collect()}
    assert has == {10: True, 11: True, 12: False}

    # SQL view is registered too
    assert spark.table("dict_geo").count() == 2

    with pytest.raises(KeyError):
        D.dict_get(facts, "nope", "cc", "g")
    with pytest.raises(ValueError):
        D.dict_get(facts, "geo", "missing_attr", "g")


def test_dict_get_is_broadcast(spark):
    dic = spark.createDataFrame([(1, "x")], ["k", "v"])
    D.register_dict("tiny", dic, "k")
    facts = spark.range(100).withColumnRenamed("id", "k2")
    plan = D.dict_get(facts, "tiny", "v", "k2")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _mk_table(spark, tmp_path, name="t"):
    p = str(tmp_path / name)
    df = spark.createDataFrame(
        [(d, u, float(u * 10)) for d in ("2024-01-01", "2024-01-02", "2024-01-03")
         for u in range(1, 5)],
        ["day", "user_id", "amount"],
    )
    df.write.partitionBy("day").parquet(p)
    return p


def test_delete_where_partition_selective(spark, tmp_path):
    p = _mk_table(spark, tmp_path)
    before = {d for d in os.listdir(p) if d.startswith("day=")}
    # record file identity of an untouched partition
    untouched = sorted(os.listdir(os.path.join(p, "day=2024-01-03")))

    n = delete_where(
        spark, p,
        (F.col("day") == "2024-01-01") & (F.col("user_id") == 2),
    )
    assert n == 1  # only one partition rewritten
    left = spark.read.parquet(p)
    assert left.count() == 11
    assert left.filter((F.col("day") == "2024-01-01") & (F.col("user_id") == 2)).count() == 0
    # untouched partition's files were not rewritten
    assert sorted(os.listdir(os.path.join(p, "day=2024-01-03"))) == untouched
    assert {d for d in os.listdir(p) if d.startswith("day=")} == before

    # no-match predicate touches nothing
    assert delete_where(spark, p, F.col("user_id") == 999) == 0


def test_delete_where_drops_emptied_partition(spark, tmp_path):
    p = _mk_table(spark, tmp_path)
    n = delete_where(spark, p, F.col("day") == "2024-01-02")
    assert n == 1
    assert not os.path.exists(os.path.join(p, "day=2024-01-02"))
    assert spark.read.parquet(p).count() == 8


def test_update_where(spark, tmp_path):
    p = _mk_table(spark, tmp_path)
    n = update_where(
        spark, p,
        F.col("user_id") == 3,
        {"amount": F.lit(0.0)},
    )
    assert n == 3  # user 3 appears in all three days
    got = spark.read.parquet(p)
    assert got.filter(F.col("user_id") == 3).agg(F.sum("amount")).collect()[0][0] == 0.0
    assert got.filter(F.col("user_id") == 1).agg(F.sum("amount")).collect()[0][0] == 30.0
    assert got.count() == 12  # no rows lost


def test_compact_partitions(spark, tmp_path):
    p = str(tmp_path / "many")
    # simulate streaming appends: 6 tiny files per partition
    for _ in range(6):
        spark.createDataFrame([("2024-01-01", 1, 1.0)], ["day", "user_id", "amount"]) \
            .write.mode("append").partitionBy("day").parquet(p)
    files_before = [
        f for f in os.listdir(os.path.join(p, "day=2024-01-01")) if f.endswith(".parquet")
    ]
    assert len(files_before) >= 6
    n = compact_partitions(spark, p, target_mb=256, sort_cols=["user_id"])
    assert n == 1
    files_after = [
        f for f in os.listdir(os.path.join(p, "day=2024-01-01")) if f.endswith(".parquet")
    ]
    assert len(files_after) < len(files_before)
    assert spark.read.parquet(p).count() == 6  # no rows lost


def test_mutate_unpartitioned_full_rewrite(spark, tmp_path):
    p = str(tmp_path / "flat")
    spark.range(10).write.parquet(p)
    n = delete_where(spark, p, F.col("id") >= 5)
    assert n == 1
    assert spark.read.parquet(p).count() == 5


def test_engine_parts_listing(spark, tmp_path):
    from ed_clickhouse_spark.engine import Engine

    wh = str(tmp_path / "wh")
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], ["day", "v"]
    )
    df.write.partitionBy("day").parquet(os.path.join(wh, "t1"))
    spark.range(3).write.parquet(os.path.join(wh, "t2"))

    eng = Engine(wh, spark)
    got = {(r["table"], r["partition"]): (r["n_files"], r["bytes"])
           for r in eng.parts().collect()}
    assert ("t1", "day=2024-01-01") in got
    assert ("t1", "day=2024-01-02") in got
    assert ("t2", "") in got
    assert all(n >= 1 and b > 0 for n, b in got.values())


def test_replay_dlq(spark, tmp_path):
    """DLQ replay: rows dead-lettered as unroutable get re-ingested after
    'the fix' (here: the payloads were always valid login events), while
    other reasons stay parked in the DLQ."""
    import json as _json

    from ed_clickhouse_spark.engine import Engine
    from ed_clickhouse_spark.streaming.pipeline import append_dlq

    wh = str(tmp_path / "wh")
    eng = Engine(wh, spark)
    eng.init()

    ok = _json.dumps({
        "event_id": "r1", "event_name": "login", "user_id": "u1",
        "session_id": "s", "anonymous_id": "a",
        "timestamp": 1_700_000_000, "service_origin": "t", "platform": "web",
    })
    replayable = spark.createDataFrame(
        [("events.login", ok)], ["subject", "payload"]
    )
    append_dlq(replayable, wh, reason="unroutable_subject")
    parked = spark.createDataFrame(
        [("events.login", "{not json")], ["subject", "payload"]
    )
    append_dlq(parked, wh, reason="decode_error")

    n = eng.replay_dlq(reasons=["unroutable_subject"])
    assert n == 1
    landed = spark.read.parquet(os.path.join(wh, "login_events"))
    assert landed.filter(F.col("event_id") == "r1").count() == 1
    # the decode_error row is still parked
    left = spark.read.parquet(os.path.join(wh, "_dlq"))
    assert left.count() == 1
    assert left.collect()[0]["reason"] == "decode_error"

    # replaying everything re-DLQs the genuinely bad row (classifier loop)
    n = eng.replay_dlq()
    assert n == 1
    left = spark.read.parquet(os.path.join(wh, "_dlq"))
    assert left.count() == 1 and left.collect()[0]["reason"] == "decode_error"
    assert eng.replay_dlq(reasons=["nothing_matches"]) == 0


def test_drop_partition(spark, tmp_path):
    from pyspark.sql import functions as F

    from ed_clickhouse_spark.operators.mutate import drop_partition

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}") for i in range(30)], "id long, d string"
    ).withColumn("d", F.col("d").cast("date"))
    df.write.partitionBy("d").parquet(path)
    assert spark.read.parquet(path).count() == 30
    assert drop_partition(spark, path, "2024-01-02")
    left = spark.read.parquet(path)
    assert left.count() == 20
    assert left.filter(F.col("d") == "2024-01-02").count() == 0
    assert not drop_partition(spark, path, "2024-01-02")  # already gone


def test_ch_sql_mutation_statements(spark, tmp_path):
    """The ClickHouse operational statements run verbatim through
    Engine.ch_sql, routed onto the partition-selective mutation ops."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_vis.up.sql").write_text(
        """
        CREATE TABLE visits (
            day Date,
            user_id Int64,
            amount Float64
        ) ENGINE = MergeTree()
        PARTITION BY day
        ORDER BY user_id;
        """
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    for d in ("2024-01-01", "2024-01-02"):
        for u in (1, 2, 3):
            eng.ch_sql(
                "INSERT INTO visits FORMAT JSONEachRow\n"
                f'{{"day":"{d}","user_id":{u},"amount":{u * 10}.0}}'
            )

    r = eng.ch_sql("ALTER TABLE visits DELETE WHERE user_id = 3").collect()[0]
    assert (r["op"], r["affected"]) == ("delete", 2)  # both day partitions
    assert spark.table("visits").where("user_id = 3").count() == 0
    assert spark.table("visits").count() == 4

    eng.ch_sql(
        "ALTER TABLE visits UPDATE amount = amount * 2 WHERE day = '2024-01-01'"
    )
    got = {
        (str(x["day"]), x["user_id"]): x["amount"]
        for x in spark.table("visits").collect()
    }
    assert got[("2024-01-01", 1)] == 20.0 and got[("2024-01-02", 1)] == 10.0

    r = eng.ch_sql("OPTIMIZE TABLE visits FINAL").collect()[0]
    assert r["op"] == "optimize" and r["affected"] >= 1

    r = eng.ch_sql("ALTER TABLE visits DROP PARTITION '2024-01-02'").collect()[0]
    assert r["affected"] == 1
    assert spark.table("visits").select("day").distinct().count() == 1

    eng.ch_sql("TRUNCATE TABLE visits")
    assert spark.table("visits").count() == 0


def test_create_dictionary_statement(spark, tmp_path):
    """CREATE DICTIONARY ... SOURCE(CLICKHOUSE(TABLE '...')) registers a
    broadcast lookup usable through dictGet and the dict_ view; DROP
    removes it."""
    from ed_clickhouse_spark.engine import Engine
    from ed_clickhouse_spark.operators.dictionary import dict_get

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_users.up.sql").write_text(
        """
        CREATE TABLE users (
            user_id Int64,
            name String
        ) ENGINE = MergeTree()
        ORDER BY user_id;
        """
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    eng.ch_sql(
        "INSERT INTO users FORMAT JSONEachRow\n"
        '{"user_id":1,"name":"ada"}\n{"user_id":2,"name":"bob"}'
    )
    r = eng.ch_sql(
        "CREATE DICTIONARY user_names (user_id Int64, name String) "
        "PRIMARY KEY user_id "
        "SOURCE(CLICKHOUSE(TABLE 'users')) "
        "LAYOUT(FLAT()) LIFETIME(MIN 0 MAX 300)"
    ).collect()[0]
    assert r["op"] == "create_dictionary"

    probe = spark.createDataFrame([(1,), (3,)], "user_id long")
    got = {x["user_id"]: x["name"]
           for x in dict_get(probe, "user_names", "name", "user_id").collect()}
    assert got == {1: "ada", 3: None}
    assert spark.table("dict_user_names").count() == 2

    assert eng.ch_sql("DROP DICTIONARY user_names").collect()[0]["affected"] == 1
    assert eng.ch_sql("DROP DICTIONARY IF EXISTS user_names").collect()[0]["affected"] == 0


def test_ch_sql_alter_add_drop_column(spark, tmp_path):
    """ALTER TABLE ADD/DROP COLUMN runs through ch_sql — metadata-only
    evolution, old files read the new column back as NULL."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_t.up.sql").write_text(
        "CREATE TABLE kv (k Int64, v String) ENGINE = MergeTree() ORDER BY k;"
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    eng.ch_sql('INSERT INTO kv FORMAT JSONEachRow\n{"k":1,"v":"a"}')

    r = eng.ch_sql("ALTER TABLE kv ADD COLUMN score Float64").collect()[0]
    assert r["op"] == "add_column"
    row = spark.table("kv").collect()[0]
    assert row["score"] is None  # pre-ALTER file reads back NULL
    eng.ch_sql('INSERT INTO kv FORMAT JSONEachRow\n{"k":2,"v":"b","score":0.5}')
    got = {x["k"]: x["score"] for x in spark.table("kv").collect()}
    assert got == {1: None, 2: 0.5}

    eng.ch_sql("ALTER TABLE kv DROP COLUMN v")
    assert "v" not in spark.table("kv").columns


def test_insert_values_statement(spark, tmp_path):
    """INSERT INTO t [(cols)] VALUES (...) — the clickhouse-client
    literal form; expressions evaluate, strings with commas survive,
    omitted columns fall back to NULL / DEFAULT."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_t.up.sql").write_text(
        "CREATE TABLE notes (k Int64, txt String, "
        "src String DEFAULT 'cli') ENGINE = MergeTree() ORDER BY k;"
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    r = eng.ch_sql(
        "INSERT INTO notes VALUES (1, 'a, with (commas)', 'web'), (1 + 1, upper('b'), 'api')"
    ).collect()[0]
    assert r["rows_inserted"] == 2
    r = eng.ch_sql("INSERT INTO notes (k, txt) VALUES (3, 'c')").collect()[0]
    assert r["rows_inserted"] == 1
    got = {x["k"]: (x["txt"], x["src"]) for x in spark.table("notes").collect()}
    assert got == {1: ("a, with (commas)", "web"), 2: ("B", "api"), 3: ("c", "cli")}


def test_optimize_deduplicate(spark, tmp_path):
    """OPTIMIZE TABLE ... FINAL DEDUPLICATE [BY cols]: exact-duplicate
    rows collapse during the compaction rewrite, per partition, exactly
    like ClickHouse's merge-time dedup."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_hits.up.sql").write_text(
        """
        CREATE TABLE hits (
            day Date,
            user_id Int64,
            amount Float64
        ) ENGINE = MergeTree()
        PARTITION BY day
        ORDER BY user_id;
        """
    )
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    # duplicate full rows within a partition + a cross-partition twin
    rows = [
        ("2024-01-01", 1, 10.0),
        ("2024-01-01", 1, 10.0),  # exact dup, same partition
        ("2024-01-01", 1, 99.0),  # same key, different amount
        ("2024-01-02", 1, 10.0),  # same values, OTHER partition — kept
        ("2024-01-02", 2, 20.0),
    ]
    for d, u, a in rows:
        eng.ch_sql(
            "INSERT INTO hits FORMAT JSONEachRow\n"
            f'{{"day":"{d}","user_id":{u},"amount":{a}}}'
        )
    r = eng.ch_sql("OPTIMIZE TABLE hits FINAL DEDUPLICATE").collect()[0]
    assert r["op"] == "optimize"
    got = sorted(
        (str(x["day"]), x["user_id"], x["amount"])
        for x in spark.table("hits").collect()
    )
    assert got == [
        ("2024-01-01", 1, 10.0),
        ("2024-01-01", 1, 99.0),
        ("2024-01-02", 1, 10.0),
        ("2024-01-02", 2, 20.0),
    ]
    # BY key form: one survivor per (user_id) within each partition
    eng.ch_sql("OPTIMIZE TABLE hits FINAL DEDUPLICATE BY user_id")
    per = (
        spark.table("hits")
        .groupBy("day", "user_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert per == 0
    assert spark.table("hits").count() == 3  # (01-01,1), (01-02,1), (01-02,2)


# --- mutation-lifecycle property test (r6) -------------------------------
# The r5 ADVICE class (RENAME + post-rename inserts + a rewrite losing a
# column vintage) was found by inspection and example-tested; this drives
# random op sequences through the engine's ch_sql surface and asserts the
# served view always equals a plain Python model of the table.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_DAYS = ["2024-01-01", "2024-01-02"]

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("ins"), st.integers(0, 1), st.integers(-50, 50)),
        st.tuples(st.just("upd"), st.integers(0, 1), st.integers(1, 9)),
        st.tuples(st.just("del"), st.integers(0, 2), st.just(0)),
        st.tuples(st.just("ren"), st.just(0), st.just(0)),
        st.tuples(st.just("opt"), st.just(0), st.just(0)),
    ),
    min_size=1,
    max_size=8,
)


@given(ops=_OPS)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
def test_mutation_lifecycle_matches_model(spark, ops):
    """Random RENAME/INSERT/UPDATE/DELETE/OPTIMIZE sequences: every
    column vintage's values survive every rewrite, and the served view
    equals the literal row model after each full sequence."""
    import shutil
    import tempfile

    from ed_clickhouse_spark.engine import Engine

    root = tempfile.mkdtemp(prefix="mutprop")
    try:
        mdir = os.path.join(root, "migrations")
        os.makedirs(mdir)
        with open(os.path.join(mdir, "001_pt.up.sql"), "w") as fh:
            fh.write(
                "CREATE TABLE pt (day Date, k Int64, val Int64)"
                " ENGINE = MergeTree() PARTITION BY day ORDER BY k;"
            )
        eng = Engine(os.path.join(root, "wh"), spark)
        eng.migrate(mdir)

        rows: dict[int, tuple[str, int]] = {}
        cur, n_ren, next_k = "val", 0, 0

        def insert(day_idx: int, v: int):
            nonlocal next_k
            d = _DAYS[day_idx]
            eng.ch_sql(
                "INSERT INTO pt FORMAT JSONEachRow\n"
                f'{{"day":"{d}","k":{next_k},"{cur}":{v}}}'
            )
            rows[next_k] = (d, v)
            next_k += 1

        insert(0, 1)  # ensure the table exists on disk
        for op, x, y in ops:
            if op == "ins":
                insert(x, y)
            elif op == "upd":
                d = _DAYS[x]
                eng.ch_sql(
                    f"ALTER TABLE pt UPDATE {cur} = {cur} + {y}"
                    f" WHERE day = '{d}'"
                )
                for k, (rd, rv) in rows.items():
                    if rd == d:
                        rows[k] = (rd, rv + y)
            elif op == "del":
                eng.ch_sql(f"ALTER TABLE pt DELETE WHERE k % 3 = {x}")
                rows = {k: v for k, v in rows.items() if k % 3 != x}
            elif op == "ren":
                n_ren += 1
                new = f"val{n_ren}"
                eng.ch_sql(f"ALTER TABLE pt RENAME COLUMN {cur} TO {new}")
                cur = new
            elif op == "opt":
                eng.ch_sql("OPTIMIZE TABLE pt FINAL")
        got = {
            r["k"]: (str(r["day"]), r[cur])
            for r in spark.table("pt").collect()
        }
        assert got == rows
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_probe_batch85_mutation_tails(spark, tmp_path):
    """Round-11 execution probe, batch 85 (~19 mutation/TTL shapes:
    ALTER UPDATE/DELETE, lightweight DELETE FROM, DROP PARTITION,
    MODIFY TTL/COLUMN, RENAME COLUMN, FREEZE, OPTIMIZE DEDUPLICATE,
    KILL MUTATION, system.parts/mutations — 17 already executed; CLEAR
    COLUMN refuses by design). Real fixes: mutation predicates cast to
    BOOLEAN (CH's integer truthiness — ALTER ... WHERE 1 errored under
    ANSI), the `IN PARTITION 'v'` clause on UPDATE/DELETE folds into a
    partition-column equality the rewrite prunes on, and translate
    rewrites clause-head integer literals (WHERE 1 / HAVING 0 /
    WHERE 1 AND ...) to booleans without touching BETWEEN ... AND."""
    import pytest

    from ed_clickhouse_spark.chsql import translate
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE m85 (k Int64, v Float64, s String, d Date)"
               " ENGINE = MergeTree() PARTITION BY toYYYYMM(d)"
               " ORDER BY (k)")
    eng.ch_sql("INSERT INTO m85 VALUES (1, 10.0, 'a', '2024-01-05'),"
               " (2, 20.0, 'b', '2024-02-05'),"
               " (3, 30.0, 'a', '2024-02-06')")
    r = eng.ch_sql(
        "ALTER TABLE m85 UPDATE s = 'z' IN PARTITION '202401' WHERE 1"
    ).collect()[0]
    assert r["affected"] == 1  # only the January row, despite WHERE 1
    got = sorted((x["k"], x["s"]) for x in
                 eng.ch_sql("SELECT k, s FROM m85").collect())
    assert got == [(1, "z"), (2, "b"), (3, "a")]
    r = eng.ch_sql(
        "ALTER TABLE m85 DELETE IN PARTITION '202402' WHERE k = 3"
    ).collect()[0]
    assert r["affected"] == 1
    assert eng.ch_sql("ALTER TABLE m85 DELETE WHERE 0"
                      ).collect()[0]["affected"] == 0
    assert sorted(x["k"] for x in
                  eng.ch_sql("SELECT k FROM m85").collect()) == [1, 2]
    # SELECT-side truthiness: clause-head literals only
    assert eng.ch_sql("SELECT count() AS n FROM m85 WHERE 1"
                      ).collect()[0]["n"] == 2
    assert eng.ch_sql(
        "SELECT count() AS n FROM m85 WHERE k BETWEEN 1 AND 2"
    ).collect()[0]["n"] == 2
    with pytest.raises(ValueError, match="unpartitioned"):
        eng.ch_sql("CREATE TABLE np85 (k Int64) ENGINE = MergeTree()"
                   " ORDER BY (k)")
        eng.ch_sql("INSERT INTO np85 VALUES (1)")
        eng.ch_sql("ALTER TABLE np85 DELETE IN PARTITION 'x' WHERE 1")


def test_escaped_quotes_in_values_and_update(spark, tmp_path):
    """A backslash-escaped quote inside a string literal neither ends
    the literal nor lets the comma after it split the VALUES tuple or
    the UPDATE assignment list."""
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE v (s String, n Int64) ENGINE = MergeTree() ORDER BY n")
    eng.ch_sql("INSERT INTO v VALUES ('it\\'s, ok', 1), ('b', 2)")
    eng.ch_sql("INSERT INTO v VALUES ('c', 3)")
    eng.ch_sql("ALTER TABLE v UPDATE s = 'a\\'b, c', n = 9 WHERE n = 3")
    got = sorted((r["s"], r["n"]) for r in spark.table("v").collect())
    assert got == [("a'b, c", 9), ("b", 2), ("it's, ok", 1)]


def test_metadata_and_system_statement_status_rows(spark, tmp_path):
    """Statements accepted for script compatibility answer with their
    (table, op, affected) status row."""
    from ed_clickhouse_spark.engine import Engine

    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql("CREATE TABLE c (k Int64, v String) ENGINE = MergeTree() ORDER BY k")

    def status(stmt):
        r = eng.ch_sql(stmt).collect()
        assert len(r) == 1
        return tuple(r[0])

    assert status("ALTER TABLE c MODIFY COMMENT 'key/value pairs'") == (
        "c", "modify_comment", 1
    )
    assert status("ALTER TABLE c MATERIALIZE COLUMN v") == (
        "c", "materialize_column:v", 0
    )
    from ed_clickhouse_spark.operators import dictionary as _dic

    assert status("SYSTEM RELOAD DICTIONARIES") == (
        "", "reload_dictionaries", len(_dic._DICTS)
    )
    assert status("SYSTEM DROP MARK CACHE") == ("", "drop_cache", 1)
