"""Dispatch of ``Engine.ch_sql`` statements through the one ordered
statement table (``engine._STATEMENTS``), without Spark.

Each sample names the handler its text must reach. The table's order
is its precedence, so the near-misses that only order tells apart are
here on purpose: CTAS vs structure clone vs column-list CREATE, KILL
QUERY vs KILL MUTATION, lightweight vs ALTER DELETE, DROP PARTITION vs
DROP PROJECTION vs DROP COLUMN, and the INSERT formats. Every entry
must be reached by at least one sample.
"""

from __future__ import annotations

import re

import pytest

from ed_clickhouse_spark import engine
from ed_clickhouse_spark.engine import _STATEMENTS, _statement

# refusals: handler name "refuse" plus the start of the message it raises
GRANT = ("refuse", "GRANT/REVOKE are not implemented")
INSERT_FORM = ("refuse", "only INSERT INTO <table> FORMAT JSONEachRow")
PARTITION = ("refuse", "ALTER ... ATTACH/DETACH PARTITION is not implemented")
CLEAR = ("refuse", "ALTER ... CLEAR COLUMN is not implemented")
UNDROP = ("refuse", "UNDROP TABLE is not implemented")

SAMPLES = [
    # metadata
    ("SHOW PROCESSLIST", "_show_processlist"),
    ("show dictionaries;", "_show_dictionaries"),
    ("SHOW SETTINGS", "_show_settings"),
    ("SHOW SETTINGS ILIKE 'spark.sql%'", "_show_settings"),
    ("SHOW TABLES NOT ILIKE 'tmp%'", "_show_tables_like"),
    ("SHOW TEMPORARY TABLES LIKE 't%'", "_show_tables_like"),
    ("SHOW TABLES", None),
    ("SHOW GRANTS FOR alice", "_show_grants"),
    ("GRANT SELECT ON t TO alice", GRANT),
    ("REVOKE SELECT ON t FROM alice", GRANT),
    ("SHOW CREATE TABLE t ;", "_show_create"),
    ("EXISTS TABLE t", "_exists"),
    ("EXISTS t", "_exists"),
    ("KILL QUERY WHERE query_id = 'q1'", "_kill_query"),
    ("KILL MUTATION WHERE mutation_id = 'm1'", "_kill_mutation"),
    ("EXPLAIN SELECT 1", "_explain"),
    ("EXPLAIN ESTIMATE SELECT count() FROM t", "_explain"),
    # INSERT
    ('INSERT INTO t FORMAT JSONEachRow\n{"k":1}', "_insert_json"),
    ('INSERT INTO t FORMAT JSONEachRow {"k":1}', INSERT_FORM),
    ("INSERT INTO t FORMAT CSV\n1,a", "_insert_format"),
    ("INSERT INTO t FORMAT CSVWithNames\nk,v\n1,a", "_insert_format"),
    ("INSERT INTO t FORMAT TSKV\nk=1\tv=a", "_insert_format"),
    ("INSERT INTO t FORMAT RowBinary\n\x01\x02", INSERT_FORM),
    ("INSERT INTO t FORMAT Values (1, 'a')", "_insert_values"),
    ("INSERT INTO t (k, v) VALUES (1, 'a, b')", "_insert_values"),
    ("  insert into t values (1, 'a')", "_insert_values"),
    ("INSERT INTO t SELECT * FROM u", "_insert_select"),
    ("INSERT INTO t (k) SELECT 1", "_insert_select"),
    ("INSERT t VALUES (1)", INSERT_FORM),
    # DDL
    ("CREATE TABLE a ENGINE = MergeTree() ORDER BY d AS SELECT d FROM b",
     "_create_table_as"),
    ("CREATE TABLE a AS SELECT 1 AS x", "_create_table_as"),
    ("CREATE TABLE a AS b", "_create_table_like"),
    ("CREATE OR REPLACE TABLE `a` AS `b` ENGINE = MergeTree() ORDER BY k",
     "_create_table_like"),
    ("CREATE TABLE a (k Int64) ENGINE = MergeTree() ORDER BY k", "_create_table"),
    ("CREATE TABLE IF NOT EXISTS a (k Int64) ENGINE = Memory", "_create_table"),
    ("CREATE MATERIALIZED VIEW mv TO t AS SELECT k, countState() AS n FROM u "
     "GROUP BY k", "_create_matview"),
    ("CREATE MATERIALIZED VIEW mv ENGINE = AggregatingMergeTree() ORDER BY k "
     "POPULATE AS SELECT k, count() AS n FROM u GROUP BY k", "_create_matview"),
    ("CREATE OR REPLACE VIEW v AS SELECT 1", "_create_view"),
    ("DROP VIEW IF EXISTS v", "_drop_view"),
    ("EXCHANGE TABLES a AND b", "_exchange_tables"),
    ("DETACH TABLE a PERMANENTLY", "_detach_table"),
    ("ATTACH TABLE a", "_attach_table"),
    ("ALTER TABLE a FREEZE WITH NAME 'snap'", "_freeze"),
    ("ALTER TABLE a MODIFY COMMENT 'x'", "_modify_comment"),
    ("ALTER TABLE a MATERIALIZE COLUMN c", "_materialize_column"),
    ("ALTER TABLE a DETACH PARTITION '2024-01'", PARTITION),
    ("ALTER TABLE a CLEAR COLUMN c IN PARTITION '2024-01'", CLEAR),
    # DELETE: lightweight and ALTER forms share one handler
    ("DELETE FROM a WHERE k = 1", "_delete"),
    ("ALTER TABLE a DELETE WHERE k = 1", "_delete"),
    ("ALTER TABLE a DELETE IN PARTITION '2024-01' WHERE 1", "_delete"),
    ("SYSTEM STOP MERGES a", "_system_merges"),
    ("SYSTEM FLUSH LOGS", "_flush_logs"),
    ("SYSTEM RELOAD DICTIONARY d", "_reload_dictionaries"),
    ("SYSTEM DROP MARK CACHE", "_drop_cache"),
    ("UNDROP TABLE a", UNDROP),
    ("CHECK TABLE a", "_check_table"),
    ("DROP TABLE IF EXISTS a", "_drop_table"),
    ("RENAME TABLE a TO b", "_rename_table"),
    # DROP/MODIFY near-misses on ALTER TABLE
    ("ALTER TABLE a ADD COLUMN c String", "_alter_column"),
    ("ALTER TABLE a DROP COLUMN c", "_alter_column"),
    ("ALTER TABLE a MODIFY COLUMN c Int64", "_alter_column"),
    ("ALTER TABLE a ADD PROJECTION p (SELECT k, count() GROUP BY k)",
     "_add_projection"),
    ("ALTER TABLE a DROP PROJECTION p", "_drop_projection"),
    ("ALTER TABLE a UPDATE v = 'x' WHERE k = 1", "_update"),
    ("ALTER TABLE a DROP PARTITION '2024-01-01'", "_drop_partition"),
    ("ALTER TABLE a MODIFY TTL ts + INTERVAL 7 DAY", "_modify_ttl"),
    ("ALTER TABLE a COMMENT COLUMN c 'x'", "_comment_column"),
    ("OPTIMIZE TABLE a PARTITION '2024' FINAL DEDUPLICATE BY k", "_optimize"),
    ("CREATE DICTIONARY d (k UInt64, v String) PRIMARY KEY k "
     "SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(HASHED()) LIFETIME(300)",
     "_create_dictionary"),
    ("DROP DICTIONARY d", "_drop_dictionary"),
    ("TRUNCATE TABLE IF EXISTS a", "_truncate"),
    # queries
    ("SELECT 1", None),
    ("WITH x AS (SELECT 1) SELECT * FROM x", None),
    ("DESCRIBE TABLE t", None),
]


@pytest.mark.parametrize("stmt,want", SAMPLES, ids=[s[:48] for s, _w in SAMPLES])
def test_statement_reaches_its_handler(stmt, want):
    entry, _m = _statement(stmt)
    if want is None:
        assert entry is None
        return
    handler = entry[1]
    if isinstance(want, tuple):
        name, message = want
        assert handler.__name__ == name
        with pytest.raises(ValueError, match="^" + re.escape(message)):
            handler(None)
    else:
        assert handler.__name__ == want


def test_every_entry_is_reached():
    reached = {id(_statement(stmt)[0]) for stmt, _w in SAMPLES}
    missed = [e[0].pattern for e in _STATEMENTS if id(e) not in reached]
    assert not missed


def test_handlers_see_their_text():
    # INSERT forms see the raw text: the payload keeps its whitespace
    _e, m = _statement("INSERT INTO t FORMAT JSONEachRow\n{\"k\": 1}\n  ;")
    assert m.groups() == ("t", "{\"k\": 1}\n  ;")
    # the rest see the statement stripped of blanks and trailing ';'
    _e, m = _statement("  EXPLAIN SYNTAX SELECT 1 ;;\n")
    assert m.groups() == ("SYNTAX", "SELECT 1")
    _e, m = _statement("DELETE FROM a WHERE k = 1;")
    assert m.groups() == ("a", None, "k = 1")
    _e, m = _statement("ALTER TABLE a DROP COLUMN c;")
    assert m.groups() == ("ALTER TABLE a DROP COLUMN c", "a", "DROP")
    assert engine._INSERT.match("insert into t values (1)")
