"""Warehouse.sql reads SELECT, CREATE and ALTER from Spark's parsed plan.

Time-travel references are found as plan nodes (in CTE bodies and
subqueries too) and their values fold through Spark in the session time
zone; DDL clauses are read from the plan's nodes, and any clause the
backends cannot honour raises. The statements Spark's grammar lacks keep
a regex each, and a guard test notices when a Spark upgrade learns one.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

import pytest

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
    _cls,
    _parse_sql,
)


def _wh(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame([(1,), (2,)], "k long"), "t")
    wh.append(spark.createDataFrame([(3,)], "k long"), "t")  # v2
    return wh


def test_timestamp_as_of_reads_the_session_time_zone(spark, tmp_path):
    """A zone-less TIMESTAMP AS OF value is a wall time in the session
    time zone, as in Spark's own time travel."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")  # UTC+9
    try:
        wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
        wh.write_snapshot(spark.createDataFrame([(1,)], "k long"), "tz")
        time.sleep(1.1)
        wh.append(spark.createDataFrame([(2,)], "k long"), "tz")
        (v1,) = [h.ts_ms for h in wh.history("tz").collect() if h.version == 1]
        tokyo = timezone(timedelta(hours=9))
        wall = datetime.fromtimestamp(v1 / 1000, tokyo).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )[:-3]
        got = wh.sql(f"SELECT k FROM tz TIMESTAMP AS OF '{wall}'").collect()
        assert [r.k for r in got] == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_time_travel_takes_constant_expressions(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    now = "SELECT count(*) AS n FROM t TIMESTAMP AS OF current_timestamp()"
    assert wh.sql(now).head().n == 3
    assert wh.sql("SELECT count(*) AS n FROM t VERSION AS OF '1'").head().n == 2
    assert (
        wh.sql("SELECT count(*) AS n FROM table_changes('t', 2 - 1)").head().n
        == 1
    )
    assert (
        wh.sql("SELECT count(*) AS n FROM table_changes(t, 0, 3 - 2)").head().n
        == 2
    )
    with pytest.raises(ValueError, match="integer versions"):
        wh.sql("SELECT * FROM table_changes('t', 'one')")
    with pytest.raises(ValueError, match="non-deterministic"):
        wh.sql("SELECT * FROM table_changes('t', CAST(rand() AS INT))")


def test_time_travel_inside_ctes_and_subqueries(spark, tmp_path):
    """The walk reaches CTE bodies, subquery expressions and EXPLAIN's
    query, which a plan's children alone do not hold; an alias and column
    aliases on table_changes survive the swap."""
    wh = _wh(spark, tmp_path)
    n = wh.sql(
        "WITH old AS (SELECT k FROM `t` VERSION AS OF 1) "
        "SELECT count(*) AS n FROM t WHERE k NOT IN (SELECT k FROM old) "
        "AND EXISTS (SELECT 1 FROM table_changes('t', 1) c WHERE c.k = t.k)"
    ).head().n
    assert n == 1
    row = wh.sql(
        "SELECT max(kk) AS m FROM table_changes('t', 1) AS c(kk, ct, cv, cts)"
    ).head()
    assert row.m == 3
    # EXPLAIN holds its query outside the plan's children; DESCRIBE names
    # its table as an UnresolvedTableOrView
    plan = wh.sql("EXPLAIN SELECT * FROM t VERSION AS OF 1").head()[0]
    assert "Physical Plan" in plan
    assert [r.col_name for r in wh.sql("DESCRIBE t").collect()] == ["k"]


def test_query_of_ctas_and_insert_is_the_whole_query(spark, tmp_path):
    """A parenthesized query, ORDER BY and LIMIT: the CTAS and INSERT
    query runs as parsed, not as the text span of its top node."""
    wh = _wh(spark, tmp_path)
    r = wh.sql(
        "CREATE TABLE top AS (SELECT k FROM t) ORDER BY k DESC LIMIT 2"
    ).head()
    assert r.operation == "CREATE TABLE AS"
    wh.sql("INSERT INTO top SELECT k FROM t ORDER BY k LIMIT 1")
    assert sorted(r.k for r in wh.read_snapshot("top").collect()) == [1, 2, 3]


def test_multipart_names_are_refused(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    for stmt in (
        "CREATE TABLE db.x (a INT)",
        "CREATE TABLE db.x AS SELECT * FROM t",
        "ALTER TABLE db.t ADD COLUMN z INT",
        "ALTER TABLE db.t SET TBLPROPERTIES ('a' = 'b')",
        "SELECT * FROM db.t VERSION AS OF 1",
    ):
        with pytest.raises(ValueError, match="one-part name"):
            wh.sql(stmt)


def test_unsupported_ddl_clauses_raise_and_commit_nothing(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    cases = {
        "ALTER TABLE t ADD COLUMNS (z INT DEFAULT 5)": "constraint on 'z': DEFAULT",
        "ALTER TABLE t ADD COLUMN z INT NOT NULL": "constraint on 'z': NOT NULL",
        "ALTER TABLE t ADD COLUMN z INT FIRST": "FIRST/AFTER",
        "ALTER TABLE t ALTER COLUMN k COMMENT 'c'": "ALTER COLUMN change on 'k'",
        "ALTER TABLE t DROP COLUMNS (k, z)": "several columns",
        "ALTER TABLE t UNSET TBLPROPERTIES IF EXISTS ('a')": "IF EXISTS",
        "ALTER TABLE t DROP CONSTRAINT IF EXISTS c": "IF EXISTS",
        "CREATE TABLE x (a INT) USING parquet": "CREATE TABLE clause: USING",
        "CREATE TABLE IF NOT EXISTS x (a INT)": "IF NOT EXISTS",
        "CREATE TABLE x (a INT) PARTITIONED BY (years(a))": "years",
        "CREATE TABLE x (a INT) LOCATION '/tmp/x'": "LOCATION",
    }
    for stmt, match in cases.items():
        with pytest.raises(ValueError, match=match):
            wh.sql(stmt)
    assert wh.versions("t") == [1, 2] and not wh.exists("x")


def test_reserved_property_keys_are_plain_properties(spark, tmp_path):
    """Spark's parser refuses TBLPROPERTIES keys it reserves for its own
    catalog; a table here stores them like any other key."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.sql(
        "CREATE TABLE r (a INT) TBLPROPERTIES ('provider' = 'p', "
        "'is_managed_location' = 'x', `b` = true)"
    )
    assert wh._log("r").snapshot().properties == {
        "provider": "p", "is_managed_location": "x", "b": "true",
    }
    conf = spark._jsparkSession.sessionState().conf()
    assert not conf.contains("spark.sql.legacy.notReserveProperties")


def test_merge_text_keeps_predicates_stars_and_subqueries(spark, tmp_path):
    """A MERGE clause reaches the engine as its whole text: a condition or
    value that is a predicate (Spark positions it from its keyword on)
    keeps its left operand, and the aliases are rewritten on a qualified
    star and inside subqueries as on a column."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b"), (5, "e")], "k long, v string"),
        "m",
    )
    spark.createDataFrame(
        [(2, "B"), (3, "C"), (4, "D"), (5, None)], "k long, v string"
    ).createOrReplaceTempView("sp_src")
    spark.createDataFrame([(3,)], "k long").createOrReplaceTempView("sp_allow")
    wh.sql(
        "MERGE INTO m AS tgt USING sp_src AS src ON tgt.k = src.k "
        "WHEN MATCHED AND src.v IS NULL THEN UPDATE SET v = src.v IS NULL "
        "WHEN MATCHED AND src.k NOT BETWEEN 3 AND 9 "
        "THEN UPDATE SET v = struct(src.*).v "
        "WHEN NOT MATCHED AND src.k > 0 "
        "AND EXISTS (SELECT 1 FROM sp_allow a WHERE a.k = src.k) THEN INSERT * "
        "WHEN NOT MATCHED AND src.k IN (SELECT k + 1 FROM sp_allow) "
        "THEN INSERT (k, v) VALUES (src.k, 'in')"
    )
    got = sorted(tuple(r) for r in wh.read_snapshot("m").collect())
    assert got == [(1, "a"), (2, "B"), (3, "C"), (4, "in"), (5, "true")]
    with pytest.raises(ValueError, match="parentheses"):
        wh.sql(
            "MERGE INTO m AS tgt USING sp_src AS src ON tgt.k = src.k "
            "WHEN MATCHED AND EXISTS (SELECT 1 FROM sp_allow) THEN DELETE"
        )
    # the target's columns are bare there: a subquery would capture them
    with pytest.raises(ValueError, match="cannot correlate on 'tgt.k'"):
        wh.sql(
            "MERGE INTO m AS tgt USING sp_src AS src ON tgt.k = src.k "
            "WHEN NOT MATCHED BY SOURCE AND tgt.k < "
            "(SELECT max(k) FROM sp_allow WHERE k > tgt.k) THEN DELETE"
        )
    wh.sql("UPDATE m SET v = v IN ('a', 'B') WHERE k <= 2")
    got = sorted(tuple(r) for r in wh.read_snapshot("m").collect())
    assert got[:2] == [(1, "true"), (2, "true")]


def _star_tables(spark, wh):
    wh.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), "st"
    )
    spark.createDataFrame(
        [(2, "B"), (3, "C")], "k long, v string"
    ).createOrReplaceTempView("st_src")


@pytest.mark.parametrize(
    "clauses, want",
    [
        ("WHEN MATCHED THEN UPDATE SET v = to_json(struct(source_row.*))",
         [(1, "a"), (2, '{"k":2,"v":"B"}')]),
        ("WHEN MATCHED THEN UPDATE SET v = to_json(struct(source_row.*)) "
         "WHEN NOT MATCHED THEN INSERT *",
         [(1, "a"), (2, '{"k":2,"v":"B"}'), (3, "C")]),
        ("WHEN MATCHED THEN UPDATE SET v = to_json(struct(target_row.*)) "
         "WHEN NOT MATCHED THEN INSERT *",
         [(1, "a"), (2, '{"k":2,"v":"b"}'), (3, "C")]),
        ("WHEN MATCHED AND source_row.v IS DISTINCT FROM target_row.v "
         "THEN UPDATE SET v = source_row.v WHEN NOT MATCHED THEN "
         "INSERT (k, v) VALUES (source_row.k, to_json(struct(source_row.*)))",
         [(1, "a"), (2, "B"), (3, '{"k":3,"v":"C"}')]),
    ],
)
def test_merge_qualified_star_is_that_sides_columns(
    spark, tmp_path, clauses, want
):
    """A qualified star in a MERGE value expands to that side's own
    columns, never to the markers the merge join adds. A value holding
    ``struct(<alias>.*)`` keeps its own text: the parser hands out the
    struct's name placeholder as one JVM-wide object whose position is
    from the statement that first made it (the short SELECT parsed here,
    or an earlier statement whose struct sat left of this value)."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    _star_tables(spark, wh)
    _parse_sql(spark, "parsePlan", "SELECT struct(x.*)")
    wh.sql(
        "MERGE INTO st AS target_row USING st_src AS source_row "
        f"ON target_row.k = source_row.k {clauses}"
    )
    assert sorted(tuple(r) for r in wh.read_snapshot("st").collect()) == want


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_merge_clause_stars_are_that_sides_columns(spark, tmp_path, via):
    """The same through ``TableLog.merge`` clause dicts, on both MERGE
    bodies: the merge-on-read body's target rows also carry their file
    and position, and ``t.*`` leaves those out too."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    _star_tables(spark, wh)
    wh._log("st").merge(
        spark.table("st_src"),
        ["k"],
        via=via,
        matched_clauses=[{
            "action": "update", "condition": None,
            "set": {"v": "to_json(struct(s.*, struct(t.*) AS t))"},
        }],
        not_matched_clauses=[{
            "condition": None, "set": {"k": "s.k", "v": "to_json(struct(s.*))"},
        }],
    )
    got = sorted(tuple(r) for r in wh.read_snapshot("st").collect())
    assert got == [
        (1, "a"),
        (2, '{"k":2,"v":"B","t":{"k":2,"v":"b"}}'),
        (3, '{"k":3,"v":"C"}'),
    ]


def test_refused_statement_writes_no_java_stack(spark, tmp_path, capfd):
    """A statement Spark cannot parse raises a ValueError with Spark's
    message; PySpark's query-context logger, which writes a JSON record
    with the Java stack for each ParseException it sees, stays silent and
    gets its level back. The logger's own handler bound the stderr of
    whichever test first made it, so the test adds one on the stderr this
    test captures."""
    import logging
    import sys

    from pyspark.logger import PySparkLogger

    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    level = log.level
    handler = logging.StreamHandler(sys.stderr)
    log.addHandler(handler)
    try:
        wh = _wh(spark, tmp_path)
        capfd.readouterr()
        with pytest.raises(ValueError, match="MERGE_WITHOUT_WHEN"):
            wh.sql("MERGE INTO t USING t AS s ON t.k = s.k")
        assert "SQLQueryContextLogger" not in capfd.readouterr().err
        assert log.level == level
    finally:
        log.removeHandler(handler)


# Each statement Warehouse.sql still matches with a regex, the name of
# that regex, and what Spark's parser makes of it: None when it refuses.
_GRAMMAR_GAPS = [
    ("DESCRIBE HISTORY t", "m_desc", "DescribeColumn"),
    ("DESCRIBE DETAIL t", "m_desc", "DescribeColumn"),
    ("DESCRIBE FILES t", "m_desc", "DescribeColumn"),
    ("ALTER TABLE t ALTER COLUMN c SET GENERATED ALWAYS AS (k * 2)", "m_gen", None),
    ("ALTER TABLE t ALTER COLUMN c SET GENERATED ALWAYS AS IDENTITY", "m_gen", None),
    ("ALTER TABLE t ALTER COLUMN c DROP GENERATED", "m_gen", None),
    ("CREATE TABLE t2 SHALLOW CLONE t VERSION AS OF 1", "m_clone", None),
    ("OPTIMIZE t WHERE k > 1 ZORDER BY (k)", "m_opt", None),
    ("REORG TABLE t APPLY (PURGE)", "m_reorg", None),
    ("VACUUM t RETAIN 2 VERSIONS", "m_vac", None),
    ("RESTORE TABLE t TO VERSION AS OF 1", "m_restore", None),
]


@pytest.mark.parametrize(
    "stmt, regex, misparse", _GRAMMAR_GAPS, ids=[g[0] for g in _GRAMMAR_GAPS]
)
def test_grammar_gap_still_needs_its_regex(spark, stmt, regex, misparse):
    """Fails once Spark's parser learns the statement: then it can move
    onto the parsed plan, and the named regex in Warehouse.sql can go."""
    try:
        got = _cls(_parse_sql(spark, "parsePlan", stmt))
    except ValueError:
        got = None
    assert got == misparse, (
        f"Spark now parses {stmt!r} as {got}: the {regex} regex in "
        "Warehouse.sql can go"
    )
