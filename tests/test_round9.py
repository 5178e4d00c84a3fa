"""Round-9 surface: the widened SQL DML WHERE grammar (IN / IS [NOT]
NULL / != / NOT) with its stats pruning — membership via min/max,
null tests via the exact per-file null counts the footer harvest
records — plus the pyds filter translation upgrade."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    TableLog,
    _may_match,
)


def _meta(lo, hi, nulls=0, rows=10, nulls_ok=True, pvals=None):
    return {
        "partition_values": pvals or {},
        "rows": rows,
        "stats": {
            "c": {"min": lo, "max": hi, "nulls": nulls, "nulls_ok": nulls_ok}
        },
    }


def test_may_match_new_ops_stats():
    m = _meta(10, 20)
    # membership: any value in [min,max] keeps the file
    assert _may_match(m, ("c", "in", (1, 15)))
    assert not _may_match(m, ("c", "in", (1, 2, 99)))
    assert not _may_match(m, ("c", "in", ()))
    # != skips only a min==max==val file (nulls never block the skip:
    # NULL != v is not TRUE either)
    assert _may_match(m, ("c", "!=", 15))
    pinned = _meta(7, 7, nulls=3)
    assert not _may_match(pinned, ("c", "!=", 7))
    assert _may_match(pinned, ("c", "!=", 8))
    # notin mirrors !=
    assert not _may_match(pinned, ("c", "notin", (7, 9)))
    assert _may_match(pinned, ("c", "notin", (8, 9)))
    assert _may_match(m, ("c", "notin", (7,)))


def test_may_match_null_ops():
    # exact null counts: isnull skips nulls==0, notnull skips all-null
    assert not _may_match(_meta(1, 5, nulls=0), ("c", "isnull", None))
    assert _may_match(_meta(1, 5, nulls=2), ("c", "isnull", None))
    assert _may_match(_meta(1, 5, nulls=2, rows=10), ("c", "notnull", None))
    assert not _may_match(
        _meta(None, None, nulls=10, rows=10), ("c", "notnull", None)
    )
    # unknown null counts (old logs / missing footer counts): keep
    assert _may_match(
        _meta(1, 5, nulls=0, nulls_ok=False), ("c", "isnull", None)
    )
    assert _may_match(
        _meta(None, None, nulls=10, nulls_ok=False), ("c", "notnull", None)
    )
    # column with no stats at all: keep
    assert _may_match({"partition_values": {}, "stats": {}}, ("c", "isnull", None))


def test_may_match_new_ops_partition_values():
    pm = {"partition_values": {"p": "3"}, "stats": {}}
    assert _may_match(pm, ("p", "in", (3, 9)))
    assert not _may_match(pm, ("p", "in", (4, 9)))
    assert _may_match(pm, ("p", "!=", 4))
    assert not _may_match(pm, ("p", "!=", 3))
    assert _may_match(pm, ("p", "notin", (4, 5)))
    assert not _may_match(pm, ("p", "notin", (3, 5)))
    assert not _may_match(pm, ("p", "isnull", None))
    assert _may_match(pm, ("p", "notnull", None))
    nulled = {"partition_values": {"p": None}, "stats": {}}
    assert _may_match(nulled, ("p", "isnull", None))
    assert not _may_match(nulled, ("p", "notnull", None))
    assert not _may_match(nulled, ("p", "in", (1, 2)))


def test_in_delete_prunes_files(spark, tmp_path):
    """A point IN-list DELETE on a partitioned table rewrites only the
    partitions holding listed values — first-class membership pruning,
    no between-collapse keeping every in-range file."""
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 8, i * 10) for i in range(80)], "k long, p long, v long"
    )
    log.write(df, partition_by=["p"])
    res = log.delete([("p", "in", (1, 6))])
    assert res["files_skipped"] >= 6  # p in {0,2,3,4,5,7} untouched
    assert res["rows_deleted"] == 20
    assert {r.p for r in log.read().collect()} == {0, 2, 3, 4, 5, 7}


def test_isnull_delete_prunes_null_free_files(spark, tmp_path):
    """IS NULL row ops skip files whose footer null count is zero —
    the null-count pruning path."""
    log = TableLog(spark, str(tmp_path / "t"))
    with_nulls = spark.createDataFrame(
        [(i, None if i % 2 == 0 else i) for i in range(10)],
        "k long, w long",
    ).coalesce(1)
    no_nulls = spark.createDataFrame(
        [(i, i) for i in range(100, 110)], "k long, w long"
    ).coalesce(1)
    log.write(with_nulls)
    log.write(no_nulls, mode="append")
    res = log.delete([("w", "isnull", None)])
    assert res["rows_deleted"] == 5
    assert res["files_skipped"] >= 1  # the null-free file never rewritten
    assert log.read().count() == 15
    # IS NOT NULL prunes the all-null file
    log2 = TableLog(spark, str(tmp_path / "t2"))
    all_null = spark.createDataFrame(
        [(i, None) for i in range(5)], "k long, w long"
    ).coalesce(1)
    log2.write(no_nulls)
    log2.write(all_null, mode="append")
    res2 = log2.delete([("w", "notnull", None)])
    assert res2["rows_deleted"] == 10
    assert res2["files_skipped"] >= 1
    assert log2.read().count() == 5


def test_sql_dml_in_null_grammar_end_to_end(spark, tmp_path):
    """DELETE/UPDATE through the SQL verb with the round-9 leaves:
    IN-list, IS [NOT] NULL, !=, NOT — results equal Spark-filter
    semantics including tri-state NULL handling."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    rows = [
        (i, None if i % 4 == 0 else i % 5, f"u{i}") for i in range(40)
    ]
    wh.write_snapshot(
        spark.createDataFrame(rows, "k long, b long, s string"), "t"
    )
    wh.sql("DELETE FROM t WHERE k IN (1, 2, 3) OR b IS NULL")
    surviving = {r.k for r in wh.sql("SELECT k FROM t").collect()}
    assert surviving == {
        k for k, b, _ in rows if not (k in (1, 2, 3) or b is None)
    }
    wh.sql("UPDATE t SET s = 'hit' WHERE b != 2 AND k NOT IN (5, 6)")
    hit = {r.k for r in wh.sql("SELECT k FROM t WHERE s = 'hit'").collect()}
    want = {
        k
        for k, b, _ in rows
        if k in surviving and b is not None and b != 2 and k not in (5, 6)
    }
    assert hit == want
    # NOT over a leaf, and IS NOT NULL
    wh.sql("DELETE FROM t WHERE NOT k < 30 AND b IS NOT NULL")
    left = {r.k for r in wh.sql("SELECT k FROM t").collect()}
    assert left == {
        k for k, b, _ in rows if k in surviving and not (k >= 30 and b is not None)
    }


def test_pyds_translate_filters_round9():
    from pyspark.sql.datasource import (
        EqualTo,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        Not,
    )

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        translate_filters,
    )

    got = translate_filters(
        [
            EqualTo(("a",), 1),
            In(("b",), (1, None, 3)),
            IsNull(("c",)),
            IsNotNull(("d",)),
            Not(EqualTo(("e",), 7)),
            Not(In(("f",), (1, 2))),
            Not(IsNull(("g",))),
            Not(LessThan(("h",), 4)),
        ]
    )
    assert got == [
        ("a", "==", 1),
        ("b", "in", (1, 3)),
        ("c", "isnull", None),
        ("d", "notnull", None),
        ("e", "!=", 7),
        ("f", "notin", (1, 2)),
        ("g", "notnull", None),
        ("h", ">=", 4),
    ]


def test_pyds_scan_prunes_and_matches_with_new_filters(spark, tmp_path):
    """format('txlog') scans with IN / IS NULL predicates: results match
    (Spark re-applies every filter — pruning is only I/O)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    root = str(tmp_path / "t")
    log = TableLog(spark, root)
    rows = [(i, None if i % 3 == 0 else i * 2) for i in range(30)]
    log.write(spark.createDataFrame(rows, "k long, w long").repartition(4))
    df = spark.read.format("txlog").load(root)
    assert df.filter(F.col("k").isin(3, 7, 11)).count() == 3
    assert df.filter(F.col("w").isNull()).count() == 10
    assert df.filter(F.col("w").isNotNull() & (F.col("k") != 1)).count() == 19


# --- per-file Bloom file skipping (round 9, verdict task 5) ---------------


def test_bloom_point_delete_touches_only_positive_files(spark, tmp_path):
    """Uniformly distributed key: every file spans the full id range, so
    min/max can never prune a point DELETE — the opt-in Bloom bitmap
    must. Exactly the 100 TB needle-in-haystack shape."""
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(400)], "id long, s string"
    ).repartition(8)
    log.write(df, bloom_cols=["id"])
    assert log.snapshot().bloom_cols == ["id"]
    res = log.delete([("id", "==", 123)])
    assert res["rows_deleted"] == 1
    assert res["files_skipped"] >= 6  # bloom-negative files untouched
    assert log.read().count() == 399
    # read-path equality and IN pruning consult the bitmaps too
    got = log.read(filters=[("id", "==", 200)])
    assert len(got.inputFiles()) <= 2 and got.count() == 1
    got = log.read(filters=[("id", "in", (7, 9, 11))])
    assert got.count() == 3
    # correctness is never bloom-dependent: a value absent everywhere
    assert log.read(filters=[("id", "==", 99999)]).count() == 0


def test_bloom_property_persists_and_harvests_on_append_and_rewrite(
    spark, tmp_path
):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame([(i, i % 3) for i in range(60)], "id long, g long"),
        bloom_cols=["id"],
    )
    v1_files = set(log.snapshot().files)
    # append inherits the property and harvests bitmaps for its files
    log.write(
        spark.createDataFrame([(1000, 0)], "id long, g long"), mode="append"
    )
    snap = log.snapshot()
    assert snap.bloom_cols == ["id"]
    new = [m for p, m in snap.files.items() if p not in v1_files]
    assert new and all("bloom" in m and "id" in m["bloom"] for m in new)
    assert len(log.read(filters=[("id", "==", 1000)]).inputFiles()) == 1
    # row-op rewrites re-harvest (survivor files keep skippability)
    log.update([("id", "==", 5)], {"g": "99"})
    snap2 = log.snapshot()
    rewritten = [m for p, m in snap2.files.items() if p not in snap.files]
    assert rewritten and all("bloom" in m for m in rewritten)
    # OPTIMIZE compaction keeps bitmaps on the compacted files
    log.optimize(n_files=2)
    assert all("bloom" in m for m in log.snapshot().files.values())
    assert log.read(filters=[("id", "==", 5)]).head().g == 99
    # clearing the property stops harvesting
    log.write(
        spark.createDataFrame([(1, 1)], "id long, g long"), bloom_cols=[]
    )
    assert log.snapshot().bloom_cols == []
    assert all(
        "bloom" not in m for m in log.snapshot().files.values()
    )


def test_bloom_validation_and_types(spark, tmp_path):
    import datetime as _dt

    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 1.5, "a", _dt.date(2020, 1, 1), True)],
        "k long, f double, s string, d date, b boolean",
    )
    with pytest.raises(ValueError, match="supports"):
        log.write(df, bloom_cols=["f"])  # float: rendering not exact
    with pytest.raises(ValueError, match="not in the data"):
        log.write(df, bloom_cols=["zz"])
    with pytest.raises(ValueError, match="partition column"):
        log.write(df, partition_by=["k"], bloom_cols=["k"])
    # string/date/boolean render identically in Spark and Python
    log.write(df, bloom_cols=["s", "d", "b"])
    assert log.read(filters=[("s", "==", "a")]).count() == 1
    assert log.read(filters=[("d", "==", _dt.date(2020, 1, 1))]).count() == 1
    assert log.read(filters=[("b", "==", True)]).count() == 1
    assert log.read(filters=[("s", "==", "zzz")]).count() == 0
    m = next(iter(log.snapshot().files.values()))
    assert set(m["bloom"]) == {"s", "d", "b"}


def test_bloom_restore_and_time_travel(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame([(i,) for i in range(20)], "id long"),
        bloom_cols=["id"],
    )
    log.write(spark.createDataFrame([(99,)], "id long"), bloom_cols=[])
    assert log.snapshot().bloom_cols == []
    log.restore(1)
    assert log.snapshot().bloom_cols == ["id"]
    assert log.read().count() == 20


def test_pyds_writer_harvests_blooms_executor_side(spark, tmp_path):
    """format('txlog') appends into a bloom-opted table fold each task
    file's bitmap executor-side (same md5-over-rendering hash as the
    Spark harvest), so DataSource-written files stay equality-skippable."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    root = str(tmp_path / "t")
    log = TableLog(spark, root)
    log.write(
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(100)], "id long, s string"
        ).repartition(4),
        bloom_cols=["id"],
    )
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000, 1100)], "id long, s string"
    ).repartition(4).write.format("txlog").mode("append").save(root)
    snap = log.snapshot()
    assert snap.bloom_cols == ["id"]
    assert all(
        "bloom" in m and "id" in m["bloom"] for m in snap.files.values()
    )
    # a point read prunes down to one file across both write paths
    for probe in (42, 1042):
        got = log.read(filters=[("id", "==", probe)])
        assert got.count() == 1
        assert len(got.inputFiles()) == 1
    assert log.read(filters=[("id", "==", 555)]).count() == 0


# --- INSERT INTO / TRUNCATE SQL verbs (round 9) ---------------------------


def test_sql_insert_values_and_select_both_backends(spark, tmp_path):
    """INSERT INTO … VALUES (typed-literal coercion, column list, NULL
    fill) and INSERT INTO … SELECT on both warehouse backends."""
    import datetime as _dt

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )

    for wh in (
        TxLogWarehouse(spark, str(tmp_path / "tx")),
        Warehouse(spark, str(tmp_path / "base")),
    ):
        wh.write_snapshot(
            spark.createDataFrame(
                [(1, 1.5, "a", _dt.date(2020, 1, 1))],
                "k long, v double, s string, d date",
            ),
            "t",
        )
        r = wh.sql(
            "INSERT INTO t VALUES (2, 2.5, 'b', DATE '2021-02-03'), "
            "(3, 4, 'c''x', NULL)"
        ).head()
        assert r.operation == "INSERT INTO" and r.rows == 2
        got = {x.k: x for x in wh.read_snapshot("t").collect()}
        assert set(got) == {1, 2, 3}
        assert got[3].v == 4.0 and got[3].s == "c'x" and got[3].d is None
        assert got[2].d == _dt.date(2021, 2, 3)
        # column list: unlisted columns fill NULL
        wh.sql("INSERT INTO t (k, s) VALUES (9, 'z')")
        got9 = wh.sql("SELECT * FROM t WHERE k = 9").head()
        assert got9.s == "z" and got9.v is None and got9.d is None
        # INSERT … SELECT (self-referencing, runs through .sql)
        r = wh.sql(
            "INSERT INTO t SELECT k + 100, v, s, d FROM t WHERE k <= 2"
        ).head()
        assert r.rows == 2
        assert wh.read_snapshot("t").count() == 6
        assert wh.sql("SELECT count(*) AS n FROM t WHERE k > 100").head().n == 2
        # bad shapes refuse loudly
        with pytest.raises(ValueError, match="columns"):
            wh.sql("INSERT INTO t (k, nope) VALUES (1, 2)")
        with pytest.raises(ValueError, match="row 1"):
            wh.sql("INSERT INTO t (k, s) VALUES (1, 'a', 'extra')")


def test_sql_truncate_and_delete_without_where(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "tx"))
    wh.write_snapshot(
        spark.createDataFrame([(i, i * 2) for i in range(10)], "k long, v long"),
        "t",
    )
    r = wh.sql("TRUNCATE TABLE t").head()
    assert r.operation == "TRUNCATE" and r.rows == 10
    assert wh.read_snapshot("t").count() == 0
    # schema survives; history stays time-travelable
    assert [f.name for f in wh.read_snapshot("t").schema.fields] == ["k", "v"]
    assert wh.read_snapshot("t", 1).count() == 10
    wh.sql("INSERT INTO t VALUES (1, 2)")
    r = wh.sql("DELETE FROM t").head()  # DELETE without WHERE == truncate
    assert r.operation == "TRUNCATE" and r.rows == 1
    assert wh.read_snapshot("t").count() == 0
    # a bucketed table keeps its layout across TRUNCATE
    wh.write_snapshot(
        spark.createDataFrame([(1, 2)], "k long, v long"),
        "b",
        bucket_by=(4, ["k"]),
    )
    wh.sql("TRUNCATE TABLE b")
    snap = wh._log("b").snapshot()
    assert snap.bucket_by["n"] == 4 and wh.read_snapshot("b").count() == 0


def test_bloom_sidecar_large_files_and_vacuum(spark, tmp_path):
    """Files big enough that m outgrows the inline threshold store the
    bitmap as an underscore-prefixed SIDECAR next to the data file
    (ignored by Spark's file index, so bucketed LOCATION scans never see
    it); vacuum deletes a sidecar exactly when it deletes its data file
    and never before."""
    import os

    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 7) for i in range(200_000)], "id long, g long"
    ).repartition(4)
    log.write(df, bloom_cols=["id"])
    snap = log.snapshot()
    entries = [m["bloom"]["id"] for m in snap.files.values()]
    assert all("sidecar" in e and "b64" not in e for e in entries)
    assert all(e["m"] >= 12 * 40_000 for e in entries)
    for p, m in snap.files.items():
        side = os.path.join(log.data_dir, m["bloom"]["id"]["sidecar"])
        assert os.path.exists(side)
        assert os.path.basename(side).startswith("_")
    # needle probe: every file spans the full range, bloom prunes
    res = log.delete([("id", "==", 123_456)])
    assert res["rows_deleted"] == 1 and res["files_skipped"] >= 2
    # overwrite then vacuum: the old files AND their sidecars go, the
    # live ones stay
    log.write(df.limit(10), bloom_cols=["id"])
    live_sides = {
        m["bloom"]["id"].get("sidecar")
        for m in log.snapshot().files.values()
    } - {None}
    n = log.vacuum(retain_last=1, min_file_age_s=0)
    assert n > 0
    remaining = {
        os.path.relpath(os.path.join(dp, f), log.data_dir)
        for dp, _, fs in os.walk(log.data_dir)
        for f in fs
    }
    assert live_sides <= remaining
    stale = [r for r in remaining if ".bloom-" in r and r not in live_sides]
    assert not stale
    assert log.read().count() == 10


# --- scoped OPTIMIZE (round 9): WHERE + small-files-only ------------------


def test_optimize_where_compacts_only_matching_partitions(spark, tmp_path):
    """At 100 TB a whole-table OPTIMIZE is an outage: OPTIMIZE WHERE
    rewrites only the files whose partition values match (Delta
    semantics incl. the partition-columns-only restriction); everything
    else keeps its path, and untouched files' deletion vectors
    survive."""
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(80)], "k long, p long, v long"
    ).repartition(8)
    log.write(df, partition_by=["p"])
    # fragment partition p=1 further with appends
    for lo in (100, 200):
        log.write(
            spark.createDataFrame(
                [(lo + i, 1, 0) for i in range(5)], "k long, p long, v long"
            ),
            mode="append",
            partition_by=["p"],
        )
    before = log.snapshot()
    p1_before = {p for p, m in before.files.items()
                 if m["partition_values"].get("p") == "1"}
    other_before = set(before.files) - p1_before
    assert len(p1_before) >= 3
    v = log.optimize(where=[("p", "==", 1)])
    after = log.snapshot()
    assert after.version == v
    # every non-p1 file kept its exact path; p1 was compacted
    assert other_before <= set(after.files)
    p1_after = {p for p, m in after.files.items()
                if m["partition_values"].get("p") == "1"}
    assert p1_after.isdisjoint(p1_before) and len(p1_after) < len(p1_before)
    assert log.read().count() == 90
    # non-partition columns refuse (Delta's restriction)
    with pytest.raises(ValueError, match="partition columns only"):
        log.optimize(where=[("k", "<", 10)])
    # a WHERE matching nothing commits nothing
    assert log.optimize(where=[("p", "==", 99)]) == after.version


def test_optimize_small_files_only(spark, tmp_path):
    """max_file_bytes: already-right-sized files keep their paths —
    only the small-file tail is rewritten."""
    log = TableLog(spark, str(tmp_path / "t"))
    big = (
        spark.range(5000)
        .select(
            F.col("id").alias("k"),
            # incompressible payload so the file is genuinely large
            F.repeat(F.sha2(F.col("id").cast("string"), 256), 8).alias("s"),
        )
        .coalesce(1)
    )
    log.write(big)
    for i in range(3):  # three tiny appends
        log.write(
            spark.createDataFrame([(100000 + i, "y")], "k long, s string"),
            mode="append",
        )
    before = log.snapshot()
    big_files = {p for p, m in before.files.items()
                 if int(m["bytes"]) >= 50_000}
    n_small = len(before.files) - len(big_files)
    assert len(big_files) == 1 and n_small >= 3
    v = log.optimize(n_files=1, max_file_bytes=50_000)
    after = log.snapshot()
    assert after.version == v
    assert big_files <= set(after.files)  # the big file untouched
    assert len(after.files) < len(before.files)  # small tail compacted
    assert log.read().count() == 5003
    # nothing small left: second pass is a no-op (no commit)
    assert log.optimize(n_files=1, max_file_bytes=50_000) == after.version


def test_optimize_where_sql_verb_and_dv_survival(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(i, i % 2, i) for i in range(40)], "k long, p long, v long"
        ).repartition(4),
        "t",
        partition_by=["p"],
    )
    wh.append(
        spark.createDataFrame([(100, 0, 0)], "k long, p long, v long"),
        "t",
        partition_by=["p"],
    )
    # a DV delete on the p=1 side must survive an OPTIMIZE scoped to p=0
    wh.delete("t", [("p", "==", 1), ("k", "==", 7)], via="dv")
    assert wh._log("t").snapshot().dvs
    r = wh.sql("OPTIMIZE t WHERE p = 0").head()
    assert r.operation == "OPTIMIZE"
    snap = wh._log("t").snapshot()
    assert snap.dvs  # untouched partition's vector survived
    assert wh.read_snapshot("t").count() == 40  # 41 rows - 1 dv delete
    # base backend refuses the scoped form loudly
    base = Warehouse(spark, str(tmp_path / "base"))
    base.write_snapshot(spark.createDataFrame([(1,)], "k long"), "s")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql("OPTIMIZE s WHERE k = 1")


# --- MERGE with explicit UPDATE SET assignments (round 9) ------------------


def test_merge_update_set_assignments(spark, tmp_path):
    """WHEN MATCHED THEN UPDATE SET col = expr: listed columns take the
    expression over the t/s aliases, unlisted columns KEEP target
    values (unlike source-wins SET *); inserts still take source rows
    wholesale; duplicate source keys refuse (SQL MERGE cardinality)."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            "k long, v long, tag string",
        )
    )
    src = spark.createDataFrame(
        [(2, 5, "S"), (9, 90, "N")], "k long, v long, tag string"
    )
    res = log.merge(
        src,
        ["k"],
        update_set={"v": "t.v + s.v", "tag": "upper(t.tag)"},
    )
    got = {r.k: (r.v, r.tag) for r in log.read().collect()}
    assert got == {
        1: (10, "a"),      # untouched
        2: (25, "B"),      # v = t.v + s.v, tag = upper(t.tag) — NOT 'S'
        3: (30, "c"),
        9: (90, "N"),      # unmatched -> inserted wholesale
    }
    assert res["rows_written"] >= 2
    # assignment guards
    with pytest.raises(ValueError, match="not in the target"):
        log.merge(src, ["k"], update_set={"zz": "1"})
    with pytest.raises(ValueError, match="merge key"):
        log.merge(src, ["k"], update_set={"k": "s.k + 1"})
    dup = spark.createDataFrame(
        [(2, 1, "x"), (2, 2, "y")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="unique source keys"):
        log.merge(dup, ["k"], update_set={"v": "s.v"})
    # round 10: via='dv' no longer refuses — merge-on-read commits the
    # SAME logical state (masked positions + one appended file)
    state_cow = sorted(tuple(r) for r in log.read().collect())
    res_dv = log.merge(src, ["k"], via="dv", update_set={"v": "s.v"})
    assert res_dv["files_rewritten"] == 0
    got_dv = {r.k: (r.v, r.tag) for r in log.read().collect()}
    assert got_dv[2] == (5, "B") and got_dv[9] == (90, "N")
    assert len(got_dv) == len(state_cow)


def test_merge_update_set_with_delete_branch(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        )
    )
    src = spark.createDataFrame(
        [(1, -1), (2, 7), (99, 5)], "k long, v long"
    )
    # v < 0 flags delete; matched k=1 drops, k=2 updates, 99 inserts
    log.merge(
        src, ["k"], delete_condition="v < 0", update_set={"v": "t.v + s.v"}
    )
    got = {r.k: r.v for r in log.read().collect()}
    assert 1 not in got
    assert got[2] == 27 and got[99] == 5
    assert got[0] == 0 and got[5] == 50


def test_merge_update_set_sql_verb(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, 10, 1), (2, 20, 1)], "k long, v long, ver long"
        ),
        "t",
    )
    wh.write_snapshot(
        spark.createDataFrame(
            [(2, 300, 0), (5, 50, 0)], "k long, v long, ver long"
        ),
        "s",
    )
    r = wh.sql(
        "MERGE INTO t AS tg USING s AS sr ON tg.k = sr.k "
        "WHEN MATCHED THEN UPDATE SET v = sr.v, ver = tg.ver + 1 "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert r.operation == "MERGE"
    got = {x.k: (x.v, x.ver) for x in wh.read_snapshot("t").collect()}
    assert got == {1: (10, 1), 2: (300, 2), 5: (50, 0)}
    # SET * still works (source-wins)
    wh.sql(
        "MERGE INTO t AS tg USING s AS sr ON tg.k = sr.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {x.k: (x.v, x.ver) for x in wh.read_snapshot("t").collect()}
    assert got[2] == (300, 0)


def test_update_set_clause_with_function_commas(spark, tmp_path):
    """UPDATE … SET with commas inside function calls parses as whole
    assignments (the naive comma split would shred round(x, 2))."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, 1.234, "x"), (2, 5.678, "y")], "k long, v double, s string"
        ),
        "t",
    )
    wh.sql("UPDATE t SET v = round(v * 2, 1), s = concat(s, ',z') WHERE k = 1")
    got = {r.k: (r.v, r.s) for r in wh.read_snapshot("t").collect()}
    assert got[1] == (2.5, "x,z") and got[2] == (5.678, "y")


def test_split_in_list_respects_parens_and_quotes(spark, tmp_path):
    """MERGE SET and INSERT VALUES lists split only at top-level commas:
    commas inside calls and inside a string literal stay put."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, 2.5, "x,z"), (2, 5.678, "y")], "k long, v double, s string"
        ),
        "t",
    )
    # MERGE SET values with commas inside calls and inside a literal
    wh.write_snapshot(
        spark.createDataFrame([(2, 1.111), (3, None)], "k long, v double"),
        "u",
    )
    wh.sql(
        "MERGE INTO t USING u AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = round(t.v + s.v, 2), s = 'a,b' "
        "WHEN NOT MATCHED THEN INSERT (k, v, s) "
        "VALUES (s.k, coalesce(s.v, 0, greatest(1, 2)), 'x')"
    )
    got = {r.k: (r.v, r.s) for r in wh.read_snapshot("t").collect()}
    assert got == {1: (2.5, "x,z"), 2: (6.79, "a,b"), 3: (0.0, "x")}


def test_constraint_ddl_sql_verbs(spark, tmp_path):
    """ALTER TABLE … ADD CONSTRAINT name CHECK (expr) / DROP CONSTRAINT
    through .sql() (Delta syntax): ADD validates existing rows first;
    subsequent violating writes refuse; DROP lifts enforcement; the
    base backend refuses loudly."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        ConstraintViolationError,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), "t"
    )
    r = wh.sql("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 0)").head()
    assert r.operation == "ADD CONSTRAINT" and r.version == 2
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        wh.append(spark.createDataFrame([(3, -5)], "k long, v long"), "t")
    # existing violations block the ADD
    with pytest.raises(Exception, match="v_big"):
        wh.sql("ALTER TABLE t ADD CONSTRAINT v_big CHECK (v > 15)")
    r = wh.sql("ALTER TABLE t DROP CONSTRAINT v_pos").head()
    assert r.operation == "DROP CONSTRAINT"
    wh.append(spark.createDataFrame([(3, -5)], "k long, v long"), "t")
    assert wh.read_snapshot("t").count() == 3
    base = Warehouse(spark, str(tmp_path / "base"))
    base.write_snapshot(spark.createDataFrame([(1,)], "k long"), "s")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql("ALTER TABLE s ADD CONSTRAINT c CHECK (k > 0)")


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """Delta's three-way merge (full-sync shape): target rows whose keys
    are absent from the source DELETE — unconditionally or gated by a
    target-row condition (NULL keeps the row); every file is a rewrite
    candidate by definition."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        ).repartition(3)
    )
    src = spark.createDataFrame([(1, 111), (9, 999)], "k long, v long")
    res = log.merge(src, ["k"], not_matched_by_source_delete=True)
    got = {r.k: r.v for r in log.read().collect()}
    # matched k=1 updated (source wins), unmatched source k=9 inserted,
    # every other target row deleted
    assert got == {1: 111, 9: 999}
    assert res["files_rewritten"] == 3  # no pruning: full-sync reads all
    # conditional form: only unmatched targets with v >= 30 delete
    log2 = TableLog(spark, str(tmp_path / "t2"))
    log2.write(
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        )
    )
    log2.merge(
        src,
        ["k"],
        not_matched_by_source_delete=True,
        not_matched_by_source_condition="v >= 30",
    )
    got2 = {r.k: r.v for r in log2.read().collect()}
    assert got2 == {0: 0, 1: 111, 2: 20, 9: 999}
    # round 10: via='dv' no longer refuses — the full-sync delete masks
    # unmatched rows via deletion vectors (no host-file rewrite)
    res_dv = log2.merge(
        src, ["k"], via="dv", not_matched_by_source_delete=True
    )
    assert res_dv["files_rewritten"] == 0
    got_dv = {r.k: r.v for r in log2.read().collect()}
    assert got_dv == {1: 111, 9: 999}


def test_merge_not_matched_by_source_sql_verb(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ),
        "t",
    )
    wh.write_snapshot(
        spark.createDataFrame([(2, 200), (5, 50)], "k long, v long"), "s"
    )
    wh.sql(
        "MERGE INTO t AS tg USING s AS sr ON tg.k = sr.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {r.k: r.v for r in wh.read_snapshot("t").collect()}
    assert got == {2: 200, 5: 50}
    # conditional NOT MATCHED BY SOURCE over the target alias
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ),
        "t2",
    )
    wh.sql(
        "MERGE INTO t2 AS tg USING s AS sr ON tg.k = sr.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND tg.v > 15 THEN DELETE"
    )
    got = {r.k: r.v for r in wh.read_snapshot("t2").collect()}
    assert got == {1: 10, 2: 200, 5: 50}  # k=3 (v=30>15) deleted, k=1 kept
