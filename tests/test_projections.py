"""ClickHouse PROJECTION parity (ddl.py + Engine._route_projection):
DDL-declared aggregate projections are maintained as mergeable partial
states at insert time and matching GROUP BY queries are routed to them
automatically — the reference stack's materialized fast path.

ClickHouse stores projections as per-part aggregate states and its
optimizer substitutes them for matching queries; here the states are the
per-insert-batch partial aggregates and the substitution is a fail-open
SQL rewrite onto the ``_parts`` view.
"""

from __future__ import annotations

import pytest

from ed_clickhouse_spark import ddl
from ed_clickhouse_spark.engine import Engine

PROJ_DDL = """
CREATE TABLE sales (
    day Date,
    user_id Int64,
    region String,
    amount Float64,
    PROJECTION by_user (SELECT day, user_id, sum(amount) AS sum_amount,
                        count() AS cnt GROUP BY day, user_id)
) ENGINE = MergeTree()
ORDER BY (day, user_id);
"""


def test_projection_parse_and_roundtrip():
    spec = ddl.parse_clickhouse_ddl(PROJ_DDL)
    assert len(spec.projections) == 1
    p = spec.projections[0]
    assert p.name == "by_user"
    assert p.dims == ["day", "user_id"]
    assert p.aggs == [("sum", "amount", "sum_amount"), ("count", "", "cnt")]
    again = ddl.parse_clickhouse_ddl(ddl.show_create(spec))
    assert again.projections == spec.projections


@pytest.fixture()
def eng(spark, tmp_path):
    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_sales.up.sql").write_text(PROJ_DDL)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    # two insert batches -> two sets of partial states to merge
    for batch in range(2):
        lines = "\n".join(
            f'{{"day":"2024-01-0{d}","user_id":{u},"region":"r{u % 2}",'
            f'"amount":{(batch + 1) * u}.0}}'
            for d in (1, 2)
            for u in (1, 2, 3)
        )
        eng.ch_sql(f"INSERT INTO sales FORMAT JSONEachRow\n{lines}")
    return eng


def test_projection_maintained_and_merged(eng, spark):
    # partial states: one row per (batch, day, user) = 2*2*3
    assert spark.table("sales__proj_by_user_parts").count() == 12
    merged = {
        (str(r["day"]), r["user_id"]): (r["sum_amount"], r["cnt"])
        for r in spark.table("sales__proj_by_user").collect()
    }
    direct = {
        (str(r["day"]), r["user_id"]): (r["s"], r["c"])
        for r in spark.sql(
            "SELECT day, user_id, sum(amount) s, count(*) c "
            "FROM sales GROUP BY 1, 2"
        ).collect()
    }
    assert merged == direct


def test_projection_routing_exact_and_subset(eng):
    q = "SELECT day, user_id, sum(amount) AS s FROM sales GROUP BY day, user_id"
    routed = eng._route_projection(q)
    assert "sales__proj_by_user_parts" in routed and "__sum_sum_amount" in routed
    got = {(str(r["day"]), r["user_id"]): r["s"] for r in eng.ch_sql(q).collect()}
    assert got[("2024-01-01", 3)] == 9.0  # 3 + 6 across the two batches

    # GROUP BY a SUBSET of the projection dims re-aggregates partials
    q2 = "SELECT day, sum(amount) AS s, count() AS c FROM sales GROUP BY day"
    assert "sales__proj_by_user_parts" in eng._route_projection(q2)
    got2 = {str(r["day"]): (r["s"], r["c"]) for r in eng.ch_sql(q2).collect()}
    assert got2["2024-01-01"] == (18.0, 6)  # (1+2+3)*3 per day, 3 users x 2 batches


def test_projection_fail_open(eng):
    # non-dim column in WHERE -> untouched (the projection can't serve it)
    q = "SELECT day, sum(amount) AS s FROM sales WHERE region = 'r1' GROUP BY day"
    assert eng._route_projection(q) == q
    # aggregate the projection doesn't carry -> untouched
    q2 = "SELECT day, min(amount) AS m FROM sales GROUP BY day"
    assert eng._route_projection(q2) == q2
    # and the fallthrough query still answers correctly from the base
    assert eng.ch_sql(q).count() == 2


def test_ch_sql_explain_shows_routed_plan(eng):
    """EXPLAIN through ch_sql explains the TRANSLATED query — including
    projection substitution, so users see what actually executes."""
    out = eng.ch_sql(
        "EXPLAIN SELECT day, sum(amount) AS s FROM sales GROUP BY day"
    ).collect()
    text = "\n".join(r[0] for r in out)
    # views resolve away in the physical plan; the partial-state column
    # and the pruned ReadSchema prove the projection scan
    assert "__sum_sum_amount" in text and ",amount:double" not in text


MV_DDL = """
CREATE TABLE page_hits (
    page String,
    user_id Int64,
    ts DateTime,
    dur Float64
) ENGINE = MergeTree()
ORDER BY (ts, page);

CREATE MATERIALIZED VIEW daily_hits
ENGINE = AggregatingMergeTree() ORDER BY (day, page)
AS SELECT toDate(ts) AS day, page, count() AS n, sum(dur) AS total_dur,
          uniq(user_id) AS users
FROM page_hits GROUP BY day, page;
"""


def test_materialized_view_ddl_end_to_end(spark, tmp_path):
    """CREATE MATERIALIZED VIEW in a migration provisions a ClickHouse-
    style insert trigger: every ch_sql INSERT appends partial states, the
    MV name reads merged (count/sum exact, uniq via HLL), and any dim
    subset re-aggregates — AggregatingMergeTree semantics end-to-end."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_hits.up.sql").write_text(MV_DDL)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    assert list(eng.matviews) == ["daily_hits"]

    for batch in range(2):
        lines = "\n".join(
            f'{{"page":"p{i % 2}","user_id":{100 + i},'
            f'"ts":"2024-01-0{1 + batch} 10:00:00","dur":{i + 1}.0}}'
            for i in range(4)
        )
        eng.ch_sql(f"INSERT INTO page_hits FORMAT JSONEachRow\n{lines}")

    mv = {(str(r["day"]), r["page"]): (r["n"], r["total_dur"], r["users"])
          for r in spark.table("daily_hits").collect()}
    assert mv[("2024-01-01", "p0")] == (2, 4.0, 2)  # i=0,2 -> dur 1+3
    assert mv[("2024-01-02", "p1")] == (2, 6.0, 2)  # i=1,3 -> dur 2+4
    # merged == direct aggregate over the raw table
    direct = {(str(r["day"]), r["page"]): (r["n"], r["d"])
              for r in eng.sql(
                  "SELECT CAST(ts AS DATE) AS day, page, count(*) n, sum(dur) d "
                  "FROM page_hits GROUP BY 1, 2").collect()}
    assert {k: v[:2] for k, v in mv.items()} == direct
    # dim-subset read re-aggregates mergeable states (never raw rows)
    per_day = {str(r["day"]): r["n"]
               for r in eng.matviews["daily_hits"].read(["day"]).collect()}
    assert per_day == {"2024-01-01": 4, "2024-01-02": 4}


def test_insert_select_appends_and_fires_mv(spark, tmp_path):
    """INSERT INTO t SELECT ... appends under the write policy, reports
    the observed row count (no second scan), and fires MV triggers."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_hits.up.sql").write_text(MV_DDL)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    eng.ch_sql(
        "INSERT INTO page_hits FORMAT JSONEachRow\n"
        '{"page":"p0","user_id":1,"ts":"2024-01-01 10:00:00","dur":2.0}\n'
        '{"page":"p1","user_id":2,"ts":"2024-01-01 11:00:00","dur":3.0}'
    )
    r = eng.ch_sql(
        "INSERT INTO page_hits "
        "SELECT concat(page, '_copy') AS page, user_id, ts, dur * 10 AS dur "
        "FROM page_hits"
    ).collect()[0]
    assert (r["table"], r["rows_inserted"]) == ("page_hits", 2)
    assert spark.table("page_hits").count() == 4
    mv = {r["page"]: r["total_dur"] for r in spark.table("daily_hits").collect()}
    assert mv["p0_copy"] == 20.0 and mv["p1_copy"] == 30.0
    # missing required column without DEFAULT -> fail loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing columns"):
        eng.ch_sql("INSERT INTO page_hits SELECT page, user_id, ts FROM page_hits")


def test_ctas_drop_rename(spark, tmp_path):
    """CREATE TABLE AS SELECT provisions through the normal migration
    path (inverse type map -> canonical DDL -> spec) and fills from the
    SELECT; RENAME and DROP TABLE complete the lifecycle."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_sales.up.sql").write_text(PROJ_DDL)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    eng.ch_sql(
        "INSERT INTO sales FORMAT JSONEachRow\n"
        '{"day":"2024-01-01","user_id":1,"region":"r0","amount":5.0}\n'
        '{"day":"2024-01-02","user_id":2,"region":"r1","amount":7.0}'
    )
    r = eng.ch_sql(
        "CREATE TABLE daily_rev ENGINE = MergeTree() ORDER BY day "
        "AS SELECT day, sum(amount) AS rev FROM sales GROUP BY day"
    ).collect()[0]
    assert (r["table"], r["rows_inserted"]) == ("daily_rev", 2)
    spec = eng.table_specs["daily_rev"]
    assert spec.ch_types == {"day": "Date", "rev": "Float64"}
    assert spark.table("daily_rev").count() == 2

    eng.ch_sql("RENAME TABLE daily_rev TO rev_by_day")
    assert "daily_rev" not in eng.table_specs
    assert spark.table("rev_by_day").count() == 2
    assert eng.ch_sql("SHOW CREATE TABLE rev_by_day").collect()[0][0].startswith(
        "CREATE TABLE rev_by_day"
    )

    r = eng.ch_sql("DROP TABLE rev_by_day").collect()[0]
    assert r["affected"] == 1 and "rev_by_day" not in eng.table_specs
    r = eng.ch_sql("DROP TABLE IF EXISTS rev_by_day").collect()[0]
    assert r["affected"] == 0


def test_optimize_compacts_projection_states(eng, spark):
    """OPTIMIZE TABLE merges projection partials down to one row per
    dims — losslessly (merged answers unchanged)."""
    before = {
        (str(r["day"]), r["user_id"]): (r["sum_amount"], r["cnt"])
        for r in spark.table("sales__proj_by_user").collect()
    }
    assert spark.table("sales__proj_by_user_parts").count() == 12
    eng.ch_sql("OPTIMIZE TABLE sales FINAL")
    # 2 batches x (2 days x 3 users) -> 6 rows after merge
    from ed_clickhouse_spark import ddl as _ddl

    spec = eng.table_specs["sales"]
    parts = spark.read.parquet(
        _ddl.projection_path(eng.warehouse, "sales", "by_user")
    )
    assert parts.count() == 6
    after = {
        (str(r["day"]), r["user_id"]): (r["sum_amount"], r["cnt"])
        for r in _ddl.projection_read(spark, spec, spec.projections[0],
                                      eng.warehouse).collect()
    }
    assert after == before


SORT_PROJ_DDL = """
CREATE TABLE logs (
    ts DateTime,
    user_id Int64,
    msg String,
    PROJECTION by_user (SELECT user_id, ts, msg ORDER BY user_id, ts)
) ENGINE = MergeTree()
ORDER BY ts;
"""


def test_sort_projection_maintained(spark, tmp_path):
    """Sort-form projections keep a column-pruned copy in the alternate
    physical order — the secondary-sort-key answer for queries the
    primary ORDER BY can't skip for."""
    from ed_clickhouse_spark.engine import Engine

    spec = ddl.parse_clickhouse_ddl(SORT_PROJ_DDL)
    p = spec.projections[0]
    assert not p.is_aggregate and p.order_by == ["user_id", "ts"]
    assert p.dims == ["user_id", "ts", "msg"]

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_logs.up.sql").write_text(SORT_PROJ_DDL)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))
    eng.ch_sql(
        "INSERT INTO logs FORMAT JSONEachRow\n"
        '{"ts":"2024-01-01 10:00:00","user_id":2,"msg":"b"}\n'
        '{"ts":"2024-01-01 11:00:00","user_id":1,"msg":"a"}'
    )
    rows = spark.table("logs__proj_by_user_parts").collect()
    assert {(r["user_id"], r["msg"]) for r in rows} == {(1, "a"), (2, "b")}
    assert spark.table("logs__proj_by_user").count() == 2


def test_add_drop_projection_lifecycle(eng, spark):
    """ALTER TABLE ADD PROJECTION backfills from existing data (the
    MATERIALIZE step) and later queries route to it; DROP removes it
    and routing falls back to the base table."""
    r = eng.ch_sql(
        "ALTER TABLE sales ADD PROJECTION by_region "
        "(SELECT region, sum(amount) AS region_amount GROUP BY region)"
    ).collect()[0]
    assert r["op"] == "add_projection:by_region"
    q = "SELECT region, sum(amount) AS s FROM sales GROUP BY region"
    assert "sales__proj_by_region_parts" in eng._route_projection(q)
    got = {r["region"]: r["s"] for r in eng.ch_sql(q).collect()}
    # amounts: batches 1x and 2x of u in {1,2,3} over 2 days:
    # r1 (u=1,3): (1+3)*3_batches... compute from base directly instead
    direct = {r["region"]: r["s"] for r in eng.sql(q).collect()}
    assert got == direct
    # new inserts maintain the added projection
    eng.ch_sql(
        "INSERT INTO sales FORMAT JSONEachRow\n"
        '{"day":"2024-01-03","user_id":9,"region":"r9","amount":100.0}'
    )
    got2 = {r["region"]: r["s"] for r in eng.ch_sql(q).collect()}
    assert got2["r9"] == 100.0

    r = eng.ch_sql("ALTER TABLE sales DROP PROJECTION by_region").collect()[0]
    assert r["affected"] == 1
    assert eng._route_projection(q) == q  # falls back to the base table
    assert {x["region"]: x["s"] for x in eng.ch_sql(q).collect()} == got2


def test_mutations_rebuild_projection_states(eng, spark):
    """ALTER DELETE invalidates insert-time partials; the engine rebuilds
    them from the mutated base so routed answers stay correct."""
    eng.ch_sql("ALTER TABLE sales DELETE WHERE user_id = 3")
    q = "SELECT day, sum(amount) AS s FROM sales GROUP BY day"
    assert "sales__proj_by_user_parts" in eng._route_projection(q)
    routed = {str(r["day"]): r["s"] for r in eng.ch_sql(q).collect()}
    direct = {str(r["day"]): r["s"] for r in eng.sql(q).collect()}
    assert routed == direct
    # (1+2)*3 batches-sum per day after deleting user 3: batch1 u1+u2=3,
    # batch2 2*(1+2)=6 -> 9 per day
    assert routed["2024-01-01"] == 9.0


MV_DDL_STATE = """
CREATE TABLE page_hits (
    page String,
    user_id Int64,
    ts DateTime,
    dur Float64
) ENGINE = MergeTree()
ORDER BY (ts, page);

CREATE MATERIALIZED VIEW daily_hits
ENGINE = AggregatingMergeTree() ORDER BY (day, page)
AS SELECT toDate(ts) AS day, page, countState() AS n,
          sumState(dur) AS total_dur, avgState(dur) AS avg_dur,
          uniqState(user_id) AS users
FROM page_hits GROUP BY day, page;
"""


def test_state_and_merge_combinators_end_to_end(spark, tmp_path):
    """The real AggregatingMergeTree workflow: the MV DDL written with
    -State spellings provisions identically, and a saved ClickHouse
    -Merge query (countMerge/sumMerge/uniqMerge) over the ``_state``
    view re-aggregates the partials verbatim through ch_sql — at ANY
    dim subset, because every stored state is mergeable."""
    from ed_clickhouse_spark.engine import Engine

    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_hits.up.sql").write_text(MV_DDL_STATE)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))

    for batch in range(2):
        lines = "\n".join(
            f'{{"page":"p{i % 2}","user_id":{100 + i},'
            f'"ts":"2024-01-0{1 + batch} 10:00:00","dur":{i + 1}.0}}'
            for i in range(4)
        )
        eng.ch_sql(f"INSERT INTO page_hits FORMAT JSONEachRow\n{lines}")

    # the state table holds >1 partial row per group (one per insert)
    assert spark.table("daily_hits_state").count() > spark.table("daily_hits").count() / 2

    got = {
        r["page"]: (r["n"], r["td"], r["a"], r["u"])
        for r in eng.ch_sql(
            "SELECT page, countMerge(n) AS n, sumMerge(total_dur) AS td, "
            "avgMerge(avg_dur) AS a, uniqMerge(users) AS u "
            "FROM daily_hits_state GROUP BY page"
        ).collect()
    }
    direct = {
        r["page"]: (r["n"], r["td"], r["a"], r["u"])
        for r in eng.sql(
            "SELECT page, count(*) AS n, sum(dur) AS td, avg(dur) AS a, "
            "count(DISTINCT user_id) AS u FROM page_hits GROUP BY page"
        ).collect()
    }
    assert got == direct
    # the merged MV view derives avg from its (sum, count) state too
    mv_avg = {r["page"]: r["avg_dur"]
              for r in spark.table("daily_hits").collect()}
    direct_pd = {(r["page"], str(r["day"])): r["a"] for r in eng.sql(
        "SELECT page, CAST(ts AS DATE) AS day, avg(dur) AS a "
        "FROM page_hits GROUP BY 1, 2").collect()}
    for r in spark.table("daily_hits").collect():
        assert abs(r["avg_dur"] - direct_pd[(r["page"], str(r["day"]))]) < 1e-9


def test_quantile_state_end_to_end(spark, tmp_path):
    """quantileState in an MV DDL keeps a DDSketch log-bucket histogram
    per group (mergeable cell-wise, ~1% relative error); a saved
    ClickHouse quantileMerge(p)(state) query over the _state view
    re-aggregates across parts and dims through ch_sql; compaction is
    lossless."""
    from ed_clickhouse_spark.engine import Engine

    ddl = """
CREATE TABLE reqs (path String, dur Float64, ts DateTime)
ENGINE = MergeTree() ORDER BY (ts, path);

CREATE MATERIALIZED VIEW lat
ENGINE = AggregatingMergeTree() ORDER BY (path)
AS SELECT path, countState() AS n, quantileState(dur) AS lat_sketch
FROM reqs GROUP BY path;
"""
    mdir = tmp_path / "migrations"
    mdir.mkdir()
    (mdir / "001_reqs.up.sql").write_text(ddl)
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.migrate(str(mdir))

    # two insert batches -> two partial-state rows per group
    for batch in range(2):
        lines = "\n".join(
            f'{{"path":"/{p}","dur":{d}.0,"ts":"2024-01-01 10:00:00"}}'
            for p in ("a", "b")
            for d in range(1 + 500 * batch, 501 + 500 * batch, 7)
        )
        eng.ch_sql(f"INSERT INTO reqs FORMAT JSONEachRow\n{lines}")

    got = {
        r["path"]: (r["p50"], r["p95"])
        for r in eng.ch_sql(
            "SELECT path, quantileMerge(0.5)(lat_sketch) AS p50, "
            "quantileMerge(0.95)(lat_sketch) AS p95 "
            "FROM lat_state GROUP BY path"
        ).collect()
    }
    exact = {
        r["path"]: (r["p50"], r["p95"])
        for r in eng.sql(
            "SELECT path, percentile(dur, 0.5) AS p50, "
            "percentile(dur, 0.95) AS p95 FROM reqs GROUP BY path"
        ).collect()
    }
    for path, (p50, p95) in exact.items():
        assert abs(got[path][0] - p50) / p50 < 0.021
        assert abs(got[path][1] - p95) / p95 < 0.021
    # global (dim-subset) merge works on the same states
    g = eng.ch_sql(
        "SELECT quantileMerge(0.5)(lat_sketch) AS p50 FROM lat_state"
    ).first()["p50"]
    ge = eng.sql("SELECT percentile(dur, 0.5) AS p FROM reqs").first()["p"]
    assert abs(g - ge) / ge < 0.021
    # compaction folds the sketch cell-wise and is lossless
    mv = eng.matviews["lat"]
    before = {r["path"]: r["lat_sketch"] for r in mv.read().collect()}
    mv._inner.compact()
    eng._register_mv(mv)
    after = {r["path"]: r["lat_sketch"] for r in mv.read().collect()}
    assert before == after
    got2 = eng.ch_sql(
        "SELECT path, quantileMerge(0.95)(lat_sketch) AS p95 "
        "FROM lat_state GROUP BY path"
    ).collect()
    for r in got2:
        assert abs(r["p95"] - exact[r["path"]][1]) / exact[r["path"]][1] < 0.021


S_DDL = (
    "CREATE TABLE {t} (day Date, region String, amount Float64,"
    " PROJECTION by_day (SELECT day, sum(amount) GROUP BY day))"
    " ENGINE = MergeTree() ORDER BY day"
)
BY_DAY = "SELECT day, sum(amount) AS s FROM {t} GROUP BY day"


def _by_day_table(eng, t, amounts):
    eng.ch_sql(S_DDL.format(t=t))
    eng.ch_sql(
        f"INSERT INTO {t} FORMAT JSONEachRow\n"
        + "\n".join(
            f'{{"day":"2024-01-0{d}","region":"r","amount":{a}}}'
            for d, a in amounts
        )
    )


def _routed_by_day(eng, t):
    q = BY_DAY.format(t=t)
    assert f"{t}__proj_by_day_parts" in eng._route_projection(q)
    return {str(r["day"]): r["s"] for r in eng.ch_sql(q).collect()}


def test_rename_table_moves_projection_data(spark, tmp_path):
    """RENAME TABLE carries the projection partials with the table: the
    routed GROUP BY on the new name reads them, and no orphaned
    ``<old>__proj_<p>`` directory stays in the warehouse."""
    import os

    eng = Engine(str(tmp_path / "wh"), spark)
    _by_day_table(eng, "s", [(1, 5.0), (1, 2.0), (2, 7.0)])
    eng.ch_sql("RENAME TABLE s TO s2")
    assert _routed_by_day(eng, "s2") == {"2024-01-01": 7.0, "2024-01-02": 7.0}
    assert sorted(os.listdir(eng.warehouse)) == ["s2", "s2__proj_by_day"]
    assert not spark.catalog.tableExists("s__proj_by_day_parts")


def test_exchange_tables_swaps_projection_data(spark, tmp_path):
    """EXCHANGE TABLES swaps projection partials along with the table
    files, so each name's routed answer matches its new contents."""
    eng = Engine(str(tmp_path / "wh"), spark)
    _by_day_table(eng, "a", [(1, 1.0), (2, 2.0)])
    _by_day_table(eng, "b", [(1, 10.0), (3, 30.0)])
    r = eng.ch_sql("EXCHANGE TABLES a AND b").collect()[0]
    assert (r["table"], r["op"], r["affected"]) == ("a", "exchange_tables:b", 2)
    assert _routed_by_day(eng, "a") == {"2024-01-01": 10.0, "2024-01-03": 30.0}
    assert _routed_by_day(eng, "b") == {"2024-01-01": 1.0, "2024-01-02": 2.0}
    for t in ("a", "b"):
        direct = {str(r["day"]): r["s"] for r in eng.sql(BY_DAY.format(t=t)).collect()}
        assert _routed_by_day(eng, t) == direct


def test_projection_routing_needs_an_aggregate(spark, tmp_path):
    """Only queries that aggregate route to the partial-state rows: a
    plain row read (or `*`) must see the table's rows and columns."""
    eng = Engine(str(tmp_path / "wh"), spark)
    eng.ch_sql(PROJ_DDL)
    eng.ch_sql(
        "INSERT INTO sales FORMAT JSONEachRow\n"
        '{"day":"2024-01-01","user_id":1,"region":"r1","amount":2.0}\n'
        '{"day":"2024-01-01","user_id":1,"region":"r1","amount":3.0}'
    )
    for q in ("SELECT * FROM sales", "SELECT day, user_id FROM sales"):
        assert eng._route_projection(q) == q
    star = eng.ch_sql("SELECT * FROM sales")
    assert star.columns == ["day", "user_id", "region", "amount"]
    assert star.count() == 2
    assert eng.ch_sql("SELECT day, user_id FROM sales").count() == 2
    # an aggregate the projection carries still routes
    q = "SELECT day, sum(amount) AS s FROM sales GROUP BY day"
    assert "sales__proj_by_user_parts" in eng._route_projection(q)
    assert eng.ch_sql(q).first()["s"] == 5.0
