"""Round 11: advice-driven hardening — session-timezone constant
folding for DML date functions, Delta-scoped MERGE cardinality, crash-
safe SHALLOW CLONE, memoized DEFAULT resolution — plus the round's
feature set (SQL MERGE schema evolution, DEFAULT in merge inserts,
generated/identity columns, CDF update images, base-backend clone,
dv-on-bucketed) tested in sibling blocks below as they land."""

from __future__ import annotations

import errno
import os

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
    check_merge_cardinality,
    merge_branches,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
    _where_dnf,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    TableLog,
)


# ---------------------------------------------------------------------------
# advice 1: a DML WHERE value folds in the SESSION timezone and
# date_sub/date_add truncate datetime bases to DATE (Spark's own semantics,
# since Spark evaluates the fold)
# ---------------------------------------------------------------------------


def _folded(spark, value_sql: str):
    """The constant a WHERE leaf's value side folds to."""
    [[(_col, _op, value)]] = _where_dnf(spark, f"x = {value_sql}")
    return value


@pytest.mark.parametrize(
    "tz", ["Pacific/Kiritimati", "Etc/GMT+12", "UTC", "GMT+05:30"]
)
def test_fold_current_date_matches_spark_in_session_tz(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for _attempt in range(2):  # re-try once across a midnight race
            folded = _folded(spark, "current_date()")
            spark_val = spark.sql("SELECT current_date()").head()[0]
            if folded == spark_val:
                break
        assert folded == spark_val
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_fold_date_sub_of_now_truncates_to_date(spark):
    from datetime import date, datetime

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Etc/GMT+12")
    try:
        for _attempt in range(2):
            folded = _folded(spark, "date_sub(now(), 90)")
            spark_val = spark.sql(
                "SELECT date_sub(now(), 90)"
            ).head()[0]
            if folded == spark_val:
                break
        # Spark's date_sub returns DATE even for a timestamp base; the
        # r10 fold kept a full datetime (datetime subclasses date)
        assert type(folded) is date and not isinstance(folded, datetime)
        assert folded == spark_val
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_fold_timestamp_matches_spark_session_clock(spark):
    """now() folds to the instant Spark's clock reads: the row predicate
    compares against ``F.lit(folded)``, and that literal, rendered in the
    session zone, is within a minute of date_format(current_timestamp())
    under a far-offset zone. (A session-zone wall time handed to F.lit
    would read as driver-local time, off by the difference of the zones.)"""
    from datetime import datetime

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try:
        folded = _folded(spark, "now()")
        as_lit = spark.range(1).select(
            F.date_format(F.lit(folded), "yyyy-MM-dd HH:mm:ss")
        ).head()[0]
        rendered = spark.sql(
            "SELECT date_format(current_timestamp(), "
            "'yyyy-MM-dd HH:mm:ss')"
        ).head()[0]
        lit_wall = datetime.strptime(as_lit, "%Y-%m-%d %H:%M:%S")
        spark_wall = datetime.strptime(rendered, "%Y-%m-%d %H:%M:%S")
        assert abs((lit_wall - spark_wall).total_seconds()) < 60
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# ---------------------------------------------------------------------------
# advice 2: MERGE cardinality scoped to source rows that MATCH a target
# row (Delta/SQL semantics) — unmatched duplicates insert instead
# ---------------------------------------------------------------------------

TARGET = [(1, "a", 10), (2, "b", 20)]
T_SCHEMA = "id int, name string, val int"


def test_unmatched_duplicate_source_keys_insert(spark):
    tgt = spark.createDataFrame(TARGET, T_SCHEMA)
    src = spark.createDataFrame(
        [(9, "x", 90), (9, "y", 91), (1, "u", 100)], T_SCHEMA
    )
    out = merge_branches(
        tgt,
        src,
        ["id"],
        matched=[{"action": "update", "condition": None, "set": None}],
    )
    rows = {(r.id, r.name) for r in out.collect()}
    # both id=9 duplicates insert (they match nothing); id=1 updates
    assert rows == {(1, "u"), (2, "b"), (9, "x"), (9, "y")}


def test_duplicate_source_keys_without_matched_clause_keep_target_once(spark):
    """Insert-only and NMBS-only merges never check cardinality: a target
    row whose key two source rows share is matched (so neither inserts),
    untouched, and comes out exactly once."""
    tgt = spark.createDataFrame(TARGET, T_SCHEMA)
    src = spark.createDataFrame(
        [(1, "x", 90), (1, "y", 91), (9, "z", 99), (9, "w", 98)], T_SCHEMA
    )
    for nmbs in (None, [{"action": "delete", "condition": None}]):
        out = merge_branches(tgt, src, ["id"], not_matched_by_source=nmbs)
        rows = sorted((r.id, r.name) for r in out.collect())
        kept = [] if nmbs else [(2, "b")]
        assert rows == sorted([(1, "a"), (9, "w"), (9, "z")] + kept)


def test_matched_duplicate_source_keys_still_raise(spark):
    tgt = spark.createDataFrame(TARGET, T_SCHEMA)
    src = spark.createDataFrame(
        [(1, "x", 90), (1, "y", 91)], T_SCHEMA
    )
    with pytest.raises(ValueError, match="cardinality"):
        merge_branches(
            tgt,
            src,
            ["id"],
            matched=[{"action": "update", "condition": None, "set": None}],
        ).collect()


# the keyword form is shorthand for the SET * clause: same answers
_SET_STAR = {
    "clauses": {
        "matched_clauses": [
            {"action": "update", "condition": None, "set": None}
        ]
    },
    "legacy": {},
}


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_txlog_merge_unmatched_duplicates_insert(spark, tmp_path, via):
    src = spark.createDataFrame(
        [(9, "x", 90), (9, "y", 91), (1, "u", 100)], T_SCHEMA
    )
    for form, kwargs in _SET_STAR.items():
        log = TableLog(spark, str(tmp_path / f"t_{via}_{form}"))
        log.write(spark.createDataFrame(TARGET, T_SCHEMA))
        log.merge(src, ["id"], via=via, **kwargs)
        rows = {(r.id, r.name) for r in log.read().collect()}
        assert rows == {(1, "u"), (2, "b"), (9, "x"), (9, "y")}, form


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_txlog_merge_matched_duplicates_raise(spark, tmp_path, via):
    """Two source rows matching one target row violate the cardinality
    rule in either form: the keyword (source-wins) form used to write
    both rows."""
    src = spark.createDataFrame(
        [(1, "x", 11), (1, "y", 12), (2, "b", 20)], T_SCHEMA
    )
    for form, kwargs in _SET_STAR.items():
        log = TableLog(spark, str(tmp_path / f"t_{via}_{form}"))
        log.write(spark.createDataFrame(TARGET, T_SCHEMA))
        v0 = log.versions()[-1]
        with pytest.raises(ValueError, match="cardinality"):
            log.merge(src, ["id"], via=via, **kwargs)
        assert log.versions()[-1] == v0, form
        rows = sorted(tuple(r) for r in log.read().collect())
        assert rows == TARGET, form


@pytest.mark.parametrize("cdf", [False, True])
@pytest.mark.parametrize("via", ["cow", "dv"])
def test_legacy_delete_merge_evolution_adds_no_flag_column(
    spark, tmp_path, via, cdf
):
    """A keyword-form delete merge evaluates its condition into an
    internal flag column; schema evolution reads the caller's columns,
    so only the source's new column reaches the table."""
    log = TableLog(spark, str(tmp_path / f"t_{via}_{cdf}"))
    log.write(spark.createDataFrame(TARGET, T_SCHEMA))
    if cdf:
        log.set_properties({"delta.enableChangeDataFeed": "true"})
    src = spark.createDataFrame(
        [(1, "u", 100, False, "n1"), (2, "b", 20, True, "n2"),
         (3, "c", 30, False, "n3")],
        T_SCHEMA + ", del boolean, note string",
    )
    log.merge(
        src, ["id"], delete_condition="del", schema_evolution=True, via=via
    )
    df = log.read()
    assert df.columns == ["id", "name", "val", "del", "note"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "u", 100, False, "n1"),
        (3, "c", 30, False, "n3"),
    ]


def test_check_merge_cardinality_no_dups_never_probes_target(spark):
    """The common no-duplicates case must not touch the target at all
    (the probe would be a full scan at 100 TB): a target that FAILS on
    access proves the short-circuit."""

    class _Boom:
        def join(self, *a, **k):  # pragma: no cover - must not run
            raise AssertionError("target probed despite unique keys")

    src = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], T_SCHEMA)
    check_merge_cardinality(_Boom(), src, ["id"])  # no raise


# ---------------------------------------------------------------------------
# advice 3: shallow_clone is crash-safe (temp tree + atomic rename)
# ---------------------------------------------------------------------------


def test_shallow_clone_partial_failure_leaves_no_debris_and_retries(
    spark, tmp_path, monkeypatch
):
    src = TableLog(spark, str(tmp_path / "src"))
    src.write(
        spark.createDataFrame([(i, i * 10) for i in range(50)], "id int, v int")
        .repartition(4)
    )
    dest_root = str(tmp_path / "dst")

    real_link = os.link
    calls = {"n": 0}

    def flaky_link(s, d, *a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError(errno.EIO, "injected")
        return real_link(s, d, *a, **k)

    monkeypatch.setattr(os, "link", flaky_link)
    with pytest.raises(ValueError, match="failed linking"):
        src.shallow_clone(dest_root)
    monkeypatch.undo()

    dest = TableLog(spark, dest_root)
    assert not dest.exists()
    assert not os.path.isdir(dest.data_dir)  # no orphan hardlink tree
    leftovers = (
        [d for d in os.listdir(dest_root) if d.startswith(".tmp-clone")]
        if os.path.isdir(dest_root)
        else []
    )
    assert leftovers == []

    # retry on the SAME destination succeeds (the r10 bug: EEXIST on
    # the orphan links, misreported as "requires hardlink support")
    clone = src.shallow_clone(dest_root)
    assert clone.read().count() == 50


def test_shallow_clone_exdev_names_the_filesystem_contract(
    spark, tmp_path, monkeypatch
):
    src = TableLog(spark, str(tmp_path / "src2"))
    src.write(spark.createDataFrame([(1, 2)], "id int, v int"))

    def exdev_link(s, d, *a, **k):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", exdev_link)
    with pytest.raises(ValueError, match="SAME filesystem"):
        src.shallow_clone(str(tmp_path / "dst2"))
    assert not os.path.isdir(str(tmp_path / "dst2" / "data"))


# ---------------------------------------------------------------------------
# verdict task 5: generated / identity columns
# ---------------------------------------------------------------------------


def test_identity_ddl_allocates_and_refuses(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse as _W,
    )

    wh = _W(spark, str(tmp_path / "gid"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(10, 1, "a"), (11, 2, "b")], "uid bigint, id int, name string"
        ),
        "t",
    )
    wh.sql(
        "ALTER TABLE t ALTER COLUMN uid SET GENERATED ALWAYS AS "
        "IDENTITY (START WITH 100 INCREMENT BY 1)"
    )
    wh.sql("INSERT INTO t (id, name) VALUES (3, 'c'), (4, 'd')")
    rows = wh.read_snapshot("t").collect()
    uids = [r.uid for r in rows]
    assert all(u is not None for u in uids)
    assert len(set(uids)) == len(uids)
    # existing max (11) folded into the mark: fresh ids are above it
    assert all(r.uid > 11 for r in rows if r.id in (3, 4))
    with pytest.raises(ValueError, match="generated column"):
        wh.sql("INSERT INTO t (uid, id, name) VALUES (5, 9, 'x')")
    with pytest.raises(ValueError, match="generated column"):
        wh.sql("INSERT INTO t VALUES (5, 9, 'x')")
    with pytest.raises(ValueError, match="UPDATE SET"):
        wh.sql("UPDATE t SET uid = 7 WHERE id = 1")


def test_identity_requires_bigint_and_no_nulls(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "gbad"))
    log.write(spark.createDataFrame([(1, "a")], "uid int, name string"))
    with pytest.raises(ValueError, match="BIGINT"):
        log.set_generated("uid", identity=True)
    log2 = TableLog(spark, str(tmp_path / "gnull"))
    log2.write(
        spark.createDataFrame(
            [(None, "a")], "uid bigint, name string"
        )
    )
    with pytest.raises(ValueError, match="NULL"):
        log2.set_generated("uid", identity=True)


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_merge_identity_kept_on_update_allocated_on_insert(
    spark, tmp_path, via
):
    log = TableLog(spark, str(tmp_path / f"gm_{via}"))
    log.write(
        spark.createDataFrame(
            [(10, 1, "a"), (11, 2, "b")], "uid bigint, id int, name string"
        )
    )
    log.set_generated("uid", identity=True)
    src = spark.createDataFrame([(1, "A"), (9, "z")], "id int, name string")
    log.merge(
        src,
        ["id"],
        matched_clauses=[
            {"action": "update", "condition": None, "set": {"name": "s.name"}}
        ],
        not_matched_clauses=[
            {"condition": None, "set": {"id": "s.id", "name": "s.name"}}
        ],
        via=via,
    )
    rows = {r.id: r for r in log.read().collect()}
    assert rows[1].uid == 10 and rows[1].name == "A"  # identity kept
    assert rows[2].uid == 11
    assert rows[9].uid is not None and rows[9].uid > 11  # allocated
    # high-water advanced so the NEXT commit can't collide
    assert (
        log.snapshot().generated["uid"]["identity"]["high"] >= rows[9].uid
    )


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_legacy_merge_translates_on_generated_tables(spark, tmp_path, via):
    """The legacy source-wins merge (no clauses) on a generated table:
    matched rows keep their identity, inserts allocate — the source
    never carries the column."""
    log = TableLog(spark, str(tmp_path / f"gl_{via}"))
    log.write(
        spark.createDataFrame(
            [(10, 1, "a"), (11, 2, "b")], "uid bigint, id int, name string"
        )
    )
    log.set_generated("uid", identity=True)
    src = spark.createDataFrame([(1, "A"), (9, "z")], "id int, name string")
    log.merge(src, ["id"], via=via)
    rows = {r.id: r for r in log.read().collect()}
    assert rows[1].uid == 10 and rows[1].name == "A"
    assert rows[9].uid is not None and rows[9].uid > 11


def test_expr_generated_recomputed_through_merge_and_update(
    spark, tmp_path
):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse as _W,
    )

    wh = _W(spark, str(tmp_path / "gexpr"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, "ab", 2)], "id int, name string, nlen int"
        ),
        "g",
    )
    wh.sql(
        "ALTER TABLE g ALTER COLUMN nlen SET GENERATED ALWAYS AS "
        "(length(name))"
    )
    spark.createDataFrame(
        [(1, "wxyz"), (2, "hello")], "id int, name string"
    ).createOrReplaceTempView("gsrc11")
    wh.sql(
        "MERGE INTO g USING gsrc11 AS s ON g.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {(r.id, r.name, r.nlen) for r in wh.read_snapshot("g").collect()}
    assert rows == {(1, "wxyz", 4), (2, "hello", 5)}
    # UPDATE to a dependency recomputes the generated column
    wh.sql("UPDATE g SET name = 'abcdef' WHERE id = 2")
    rows = {(r.id, r.nlen) for r in wh.read_snapshot("g").collect()}
    assert rows == {(1, 4), (2, 6)}


def test_generated_metadata_rides_clone_and_restore(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "gmeta"))
    log.write(
        spark.createDataFrame([(10, 1)], "uid bigint, id int")
    )
    log.set_generated("uid", identity=True)
    v_with = log.versions()[-1]
    clone = log.shallow_clone(str(tmp_path / "gmeta2"))
    assert clone.snapshot().generated == log.snapshot().generated
    log.drop_generated("uid")
    assert log.snapshot().generated == {}
    log.restore(v_with)
    assert "uid" in log.snapshot().generated


def test_generated_and_default_mutually_exclusive(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "gmx"))
    log.write(
        spark.createDataFrame([(1, 5)], "id int, n bigint")
    )
    log.set_default("n", "3")
    with pytest.raises(ValueError, match="mutually exclusive"):
        log.set_generated("n", identity=True)
    log.drop_default("n")
    log.set_generated("n", identity=True)
    with pytest.raises(ValueError, match="mutually exclusive"):
        log.set_default("n", "3")


def test_expr_generated_rejects_self_and_nondeterminism(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "gval"))
    log.write(spark.createDataFrame([(1, "a", 0)], "id int, s string, n int"))
    with pytest.raises(ValueError, match="must bind"):
        log.set_generated("n", expr="n + 1")  # self-reference
    with pytest.raises(ValueError, match="deterministic"):
        log.set_generated("n", expr="cast(rand()*10 as int)")


# ---------------------------------------------------------------------------
# verdict task 7: SHALLOW CLONE on the base snapshot-dir backend
# ---------------------------------------------------------------------------


def test_base_backend_shallow_clone_zero_copy_fork(spark, tmp_path):
    """Round 11: the CLONE verb works on the snapshot-dir backend too —
    hardlinked v1 (st_nlink proves shared inodes), divergence both
    ways, VERSION AS OF clones history points, partitioned layouts
    carry their directory structure."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "basewh"))
    df1 = spark.createDataFrame(
        [(1, "eu", 10.0), (2, "us", 20.0)], "id int, region string, v double"
    )
    wh.write_snapshot(df1, "t", partition_by=["region"])
    wh.write_snapshot(
        df1.union(
            spark.createDataFrame([(3, "eu", 30.0)], df1.schema)
        ),
        "t",
        partition_by=["region"],
    )
    r = wh.sql("CREATE TABLE t2 SHALLOW CLONE t").head()
    assert r.operation == "SHALLOW CLONE" and r.version == 1
    assert sorted(x.id for x in wh.read_snapshot("t2").collect()) == [1, 2, 3]
    # zero-copy: every clone parquet file shares its inode
    v1 = os.path.join(wh.path("t2"), "v1")
    links = [
        os.stat(os.path.join(dp, f)).st_nlink
        for dp, _, fs in os.walk(v1)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert links and all(n >= 2 for n in links)
    # divergence: a new snapshot on the clone leaves the source alone
    wh.write_snapshot(
        spark.createDataFrame([(9, "ap", 90.0)], df1.schema), "t2"
    )
    assert sorted(x.id for x in wh.read_snapshot("t2").collect()) == [9]
    assert sorted(x.id for x in wh.read_snapshot("t").collect()) == [1, 2, 3]
    # VERSION AS OF clones a history point
    wh.sql("CREATE TABLE t0 SHALLOW CLONE t VERSION AS OF 1")
    assert sorted(x.id for x in wh.read_snapshot("t0").collect()) == [1, 2]
    # refusal on an existing destination
    with pytest.raises(ValueError, match="already exists"):
        wh.shallow_clone("t", "t2")


def test_base_backend_clone_partial_failure_is_clean(
    spark, tmp_path, monkeypatch
):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "basewh2"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id int, v double"
        ).repartition(4),
        "t",
    )
    real_link = os.link
    calls = {"n": 0}

    def flaky(s, d, *a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError(5, "injected")
        return real_link(s, d, *a, **k)

    monkeypatch.setattr(os, "link", flaky)
    with pytest.raises(ValueError, match="failed linking"):
        wh.shallow_clone("t", "tc")
    monkeypatch.undo()
    assert wh.versions("tc") == []  # no half-visible clone
    assert wh.shallow_clone("t", "tc") == 1  # retry succeeds
    assert wh.read_snapshot("tc").count() == 20


# ---------------------------------------------------------------------------
# verdict task 4: CDF update pre/post-images (Delta parity)
# ---------------------------------------------------------------------------


def _feed(log, frm, to=None):
    return sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(frm, to).collect()
    )


def test_cdf_update_dv_emits_images(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cdf1"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        )
    )
    log.update([("id", "==", 2)], {"val": "val + 5"}, via="dv")
    assert _feed(log, 1) == [
        (2, "update_postimage", 25),
        (2, "update_preimage", 20),
    ]
    # net=True output unchanged: insert/delete only, same multiset
    net = sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(1, net=True).collect()
    )
    assert net == [(2, "delete", 20), (2, "insert", 25)]


def test_cdf_cow_update_derives_images_and_suppresses_survivors(
    spark, tmp_path
):
    log = TableLog(spark, str(tmp_path / "cdf2"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        ).coalesce(1)
    )
    log.update([("id", ">=", 2)], {"val": "val * 2"}, via="cow")
    # precise images only — NO delete+insert noise for survivor id=1
    assert _feed(log, 1) == [
        (2, "update_postimage", 40),
        (2, "update_preimage", 20),
        (3, "update_postimage", 60),
        (3, "update_preimage", 30),
    ]
    net = sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(1, net=True).collect()
    )
    assert net == [
        (2, "delete", 20),
        (2, "insert", 40),
        (3, "delete", 30),
        (3, "insert", 60),
    ]


def test_cdf_nondeterministic_set_falls_back_to_file_granularity(
    spark, tmp_path
):
    log = TableLog(spark, str(tmp_path / "cdf3"))
    log.write(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, val int")
        .coalesce(1)
    )
    log.update(
        [("id", "==", 1)],
        {"val": "cast(rand() * 0 + 99 as int)"},
        via="cow",
    )
    types = {r._change_type for r in log.table_changes(1).collect()}
    # a non-deterministic SET cannot be re-derived: the feed keeps the
    # (net-correct) file-granularity delete+insert pairs
    assert types == {"insert", "delete"}


def test_cdf_merge_dv_separates_updates_deletes_inserts(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cdf4"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        )
    )
    src = spark.createDataFrame(
        [(2, 99), (3, 0), (9, 90)], "id int, val int"
    )
    log.merge(
        src,
        ["id"],
        matched_clauses=[
            {"action": "delete", "condition": "s.val = 0"},
            {"action": "update", "condition": None, "set": {"val": "s.val"}},
        ],
        not_matched_clauses=[{"condition": None, "set": None}],
        via="dv",
    )
    assert _feed(log, 1) == [
        (2, "update_postimage", 99),
        (2, "update_preimage", 20),
        (3, "delete", 30),
        (9, "insert", 90),
    ]


def test_cdf_images_through_run_cdc_apply(spark, tmp_path):
    """A real CDC apply (availableNow stream -> per-microbatch dv merge)
    produces update images downstream consumers can pattern-match on,
    and the additive fold (apply_changes_to_summary) reproduces the
    live table from the feed."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        apply_changes_to_summary,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming.upsert import (
        run_cdc_apply,
    )

    target = str(tmp_path / "cdf5")
    log = TableLog(spark, target)
    log.write(
        spark.createDataFrame(
            [(1, 1, 10.0, False), (2, 1, 20.0, False)],
            "id int, seq int, val double, deleted boolean",
        )
    )
    changes = spark.createDataFrame(
        [(1, 2, 15.0, False), (9, 2, 90.0, False), (2, 2, 0.0, True)],
        "id int, seq int, val double, deleted boolean",
    )
    src_dir = str(tmp_path / "cdc_src")
    changes.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(changes.schema).parquet(src_dir)
    run_cdc_apply(
        spark,
        stream,
        target,
        str(tmp_path / "ckpt"),
        keys=["id"],
        order_col="seq",
        delete_col="deleted",
        via="dv",
    )
    feed = log.table_changes(1)
    types = {r._change_type for r in feed.collect()}
    assert "update_preimage" in types and "update_postimage" in types
    # fold the feed into a per-id additive summary == the live table
    summary = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0)], "id int, cnt long, val double"
    )
    folded = apply_changes_to_summary(
        summary, feed, ["id"], count_col="cnt", sum_cols={"val": 2}
    )
    live = {
        (r.id, float(r.val)) for r in log.read().where("NOT deleted").collect()
    }
    fold = {(r.id, float(r.val)) for r in folded.collect()}
    assert fold == live


# ---------------------------------------------------------------------------
# verdict task 3: merge-on-read (dv) on bucketed tables
# ---------------------------------------------------------------------------


def test_bucketed_dv_point_delete_is_metadata_only(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "bdv"))
    log.write(
        spark.range(200).selectExpr("id % 8 AS k", "id AS v")
        .repartition(4),
        bucket_by=(4, ["k"]),
    )
    files_before = dict(log.snapshot().files)
    res = log.delete([("v", "==", 77)], via="dv")
    assert res["files_rewritten"] == 0 and res["rows_deleted"] == 1
    snap = log.snapshot()
    # the active file set is IDENTICAL — the commit is pure metadata
    assert dict(snap.files) == files_before
    assert sum(len(v) for v in snap.dvs.values()) == 1
    assert log.read_bucketed().filter("v = 77").count() == 0
    assert log.read().filter("v = 77").count() == 0
    assert log.read_bucketed().count() == 199


def test_bucketed_dv_cow_equality(spark, tmp_path):
    """The same merge on bucketed twins — one CoW, one dv — commits
    identical logical state."""
    src = None
    out = {}
    for via in ("cow", "dv"):
        log = TableLog(spark, str(tmp_path / f"beq_{via}"))
        log.write(
            spark.range(100).selectExpr("id % 8 AS k", "id AS v")
            .repartition(4),
            bucket_by=(4, ["k"]),
        )
        src = spark.createDataFrame(
            [(3, -3), (900, 900)], "k long, v long"
        )
        log.merge(
            src,
            ["k"],
            matched_clauses=[
                {"action": "update", "condition": None, "set": {"v": "s.v"}}
            ],
            not_matched_clauses=[{"condition": None, "set": None}],
            via=via,
        )
        out[via] = sorted(
            (r.k, r.v) for r in log.read_bucketed().collect()
        )
        assert log.snapshot().bucket_by["n"] == 4
    assert out["cow"] == out["dv"]


def test_bucketed_dv_appends_keep_layout_and_feed_images(spark, tmp_path):
    """A dv update on a bucketed table appends THROUGH the bucketed
    writer (the new file's bucket tag joins the layout) and the change
    feed emits update images."""
    log = TableLog(spark, str(tmp_path / "bfeed"))
    log.write(
        spark.range(50).selectExpr("id % 4 AS k", "id AS v")
        .repartition(2),
        bucket_by=(4, ["k"]),
    )
    res = log.update([("v", "==", 10)], {"v": "1010"}, via="dv")
    assert res["files_rewritten"] == 0
    types = sorted(
        (r._change_type, r.v) for r in log.table_changes(1).collect()
    )
    assert types == [("update_postimage", 1010), ("update_preimage", 10)]
    # every active file still carries a bucket tag (layout intact):
    # read_bucketed binds and counts correctly after the append
    assert log.read_bucketed().filter("v = 1010").count() == 1


def test_bucketed_dv_cap_fallback_still_rewrites(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "bcap"))
    log.write(
        spark.range(300).selectExpr("id % 4 AS k", "id AS v")
        .repartition(2),
        bucket_by=(4, ["k"]),
    )
    old_cap = TableLog._DV_INLINE_CAP
    TableLog._DV_INLINE_CAP = 5
    try:
        res = log.delete([("v", "<", 100)], via="dv")  # 100 rows > cap
    finally:
        TableLog._DV_INLINE_CAP = old_cap
    assert res["files_rewritten"] >= 1  # materialized via CoW
    assert log.snapshot().dvs == {}
    assert log.read_bucketed().count() == 200
    assert log.snapshot().bucket_by["n"] == 4


# ---------------------------------------------------------------------------
# round-11 stretch: TBLPROPERTIES + delta.enableChangeDataFeed sidecars
# (precise CDF for copy-on-write MERGE and DELETE commits)
# ---------------------------------------------------------------------------

_CDF_PROP = "delta.enableChangeDataFeed"


def test_tblproperties_ddl_roundtrip(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse as _W,
        Warehouse as _B,
    )

    wh = _W(spark, str(tmp_path / "props"))
    wh.write_snapshot(spark.createDataFrame([(1,)], "id int"), "t")
    wh.sql(
        "ALTER TABLE t SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed' = 'true', 'team' = 'data-eng')"
    )
    log = wh._log("t")
    assert log.snapshot().properties == {
        _CDF_PROP: "true",
        "team": "data-eng",
    }
    wh.sql("ALTER TABLE t UNSET TBLPROPERTIES ('team')")
    assert log.snapshot().properties == {_CDF_PROP: "true"}
    with pytest.raises(ValueError, match="no propert"):
        wh.sql("ALTER TABLE t UNSET TBLPROPERTIES ('nope')")
    base = _B(spark, str(tmp_path / "propsb"))
    base.write_snapshot(spark.createDataFrame([(1,)], "id int"), "t")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql("ALTER TABLE t SET TBLPROPERTIES ('k' = 'v')")


def test_cdf_sidecar_cow_merge_emits_precise_images(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cdfm"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        ).coalesce(1)
    )
    log.set_properties({_CDF_PROP: "true"})
    src = spark.createDataFrame(
        [(2, 99), (3, 0), (9, 90)], "id int, val int"
    )
    log.merge(
        src,
        ["id"],
        matched_clauses=[
            {"action": "delete", "condition": "s.val = 0"},
            {"action": "update", "condition": None, "set": {"val": "s.val"}},
        ],
        not_matched_clauses=[{"condition": None, "set": None}],
        via="cow",
    )
    # commit carries the sidecar; survivors (id=1) emit NOTHING
    import json as _json

    with open(log._commit_path(log.versions()[-1])) as f:
        c = _json.load(f)
    assert c["operation"] == "merge" and c.get("cdc_files")
    feed = sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(2).collect()
    )
    assert feed == [
        (2, "update_postimage", 99),
        (2, "update_preimage", 20),
        (3, "delete", 30),
        (9, "insert", 90),
    ]
    # net output identical to a property-less twin's (file granularity)
    twin = TableLog(spark, str(tmp_path / "cdfm_twin"))
    twin.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        ).coalesce(1)
    )
    twin.merge(
        src,
        ["id"],
        matched_clauses=[
            {"action": "delete", "condition": "s.val = 0"},
            {"action": "update", "condition": None, "set": {"val": "s.val"}},
        ],
        not_matched_clauses=[{"condition": None, "set": None}],
        via="cow",
    )
    net_a = sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(2, net=True).collect()
    )
    net_b = sorted(
        (r.id, r._change_type, r.val)
        for r in twin.table_changes(1, net=True).collect()
    )
    assert net_a == net_b


def test_cdf_sidecar_cow_delete_and_legacy_merge_translate(
    spark, tmp_path
):
    log = TableLog(spark, str(tmp_path / "cdfd"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id int, val int"
        ).coalesce(1)
    )
    log.set_properties({_CDF_PROP: "true"})
    log.delete([("val", ">", 15)])
    feed = sorted(
        (r.id, r._change_type) for r in log.table_changes(2).collect()
    )
    # only the deleted rows — no survivor delete+insert noise
    assert feed == [(2, "delete"), (3, "delete")]
    # a LEGACY (no-clause) merge on a CDF table translates to clause
    # form and still writes the sidecar
    src = spark.createDataFrame([(1, 100), (7, 70)], "id int, val int")
    log.merge(src, ["id"], via="cow")
    feed = sorted(
        (r.id, r._change_type, r.val)
        for r in log.table_changes(3).collect()
    )
    assert feed == [
        (1, "update_postimage", 100),
        (1, "update_preimage", 10),
        (7, "insert", 70),
    ]


def test_vacuum_reclaims_cdc_sidecars_outside_horizon(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cdfv"))
    log.write(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, val int")
        .coalesce(1)
    )
    log.set_properties({_CDF_PROP: "true"})
    src = spark.createDataFrame([(1, 100)], "id int, val int")
    log.merge(
        src,
        ["id"],
        matched_clauses=[
            {"action": "update", "condition": None, "set": {"val": "s.val"}}
        ],
        via="cow",
    )
    v_merge = log.versions()[-1]
    cdc_root = os.path.join(log.root, "_cdc")
    assert os.path.isdir(cdc_root) and os.listdir(cdc_root)
    # sidecar within the retention horizon SURVIVES a vacuum
    log.vacuum(retain_last=len(log.versions()), min_file_age_s=0)
    assert os.listdir(cdc_root)
    assert (
        log.table_changes(v_merge - 1, v_merge)
        .filter("_change_type = 'update_postimage'")
        .count()
        == 1
    )
    # push the merge below the horizon — the sidecar reclaims and the
    # feed for that window raises like any vacuumed-history read
    log.write(
        spark.createDataFrame([(9, 90)], "id int, val int").coalesce(1)
    )
    log.vacuum(retain_last=1, min_file_age_s=0)
    assert not os.path.isdir(cdc_root) or not os.listdir(cdc_root)
    with pytest.raises(FileNotFoundError, match="CDC sidecar"):
        log.table_changes(v_merge - 1, v_merge).collect()


def test_cdf_property_rides_clone_and_restore(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cdfp"))
    log.write(spark.createDataFrame([(1,)], "id int"))
    log.set_properties({_CDF_PROP: "true"})
    v_with = log.versions()[-1]
    clone = log.shallow_clone(str(tmp_path / "cdfp2"))
    assert clone.snapshot().properties == {_CDF_PROP: "true"}
    log.unset_properties([_CDF_PROP])
    assert log.snapshot().properties == {}
    log.restore(v_with)
    assert log.snapshot().properties == {_CDF_PROP: "true"}


def test_cdf_sidecar_skipped_for_identity_tables(spark, tmp_path):
    """Identity allocation is nondeterministic per evaluation — a
    sidecar would re-allocate ids independently of the staged data, so
    identity tables keep the (net-correct) file granularity on CoW
    merges even with CDF on."""
    import json as _json

    log = TableLog(spark, str(tmp_path / "cdfi"))
    log.write(
        spark.createDataFrame(
            [(10, 1, "a")], "uid bigint, id int, name string"
        )
    )
    log.set_generated("uid", identity=True)
    log.set_properties({_CDF_PROP: "true"})
    src = spark.createDataFrame([(9, "z")], "id int, name string")
    log.merge(
        src,
        ["id"],
        not_matched_clauses=[
            {"condition": None, "set": {"id": "s.id", "name": "s.name"}}
        ],
        via="cow",
    )
    with open(log._commit_path(log.versions()[-1])) as f:
        c = _json.load(f)
    assert "cdc_files" not in c
    # the allocated id in the DATA is the single source of truth
    assert {r.id for r in log.read().collect()} == {1, 9}


# ---------------------------------------------------------------------------
# advice 4: DEFAULT keyword resolution is memoized per statement
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# verdict task 1: MERGE WITH SCHEMA EVOLUTION through the SQL verb
# (Spark 4 syntax) and Delta's autoMerge session conf
# ---------------------------------------------------------------------------

_AUTOMERGE = "spark.databricks.delta.schema.autoMerge.enabled"


def _wh_with_t(spark, tmp_path, name="wh"):
    wh = TxLogWarehouse(spark, str(tmp_path / name))
    wh.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"),
        "t",
    )
    return wh


def test_sql_merge_with_schema_evolution_extends_schema(spark, tmp_path):
    wh = _wh_with_t(spark, tmp_path)
    spark.createDataFrame(
        [(1, "A", 10), (3, "c", 30)], "id int, name string, score int"
    ).createOrReplaceTempView("cdc_src")
    wh.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING cdc_src AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {(r.id, r.name, r.score) for r in wh.read_snapshot("t").collect()}
    # evolved column: matched/inserted rows carry it, untouched rows NULL
    assert rows == {(1, "A", 10), (2, "b", None), (3, "c", 30)}
    # old snapshots keep their pre-evolution schema
    assert wh.read_snapshot("t", version=1).columns == ["id", "name"]


def test_sql_merge_evolution_clause_may_target_new_column(spark, tmp_path):
    wh = _wh_with_t(spark, tmp_path)
    spark.createDataFrame(
        [(1, 10), (3, 30)], "id int, score int"
    ).createOrReplaceTempView("cdc_src2")
    wh.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING cdc_src2 AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.score = s.score * 2 "
        "WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.score)"
    )
    rows = {(r.id, r.name, r.score) for r in wh.read_snapshot("t").collect()}
    assert rows == {(1, "a", 20), (2, "b", None), (3, None, 30)}


def test_sql_merge_automerge_session_conf(spark, tmp_path):
    wh = _wh_with_t(spark, tmp_path)
    spark.createDataFrame(
        [(2, "B", 9)], "id int, name string, extra int"
    ).createOrReplaceTempView("cdc_src3")
    stmt = (
        "MERGE INTO t USING cdc_src3 AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    spark.conf.set(_AUTOMERGE, "true")
    try:
        wh.sql(stmt)
    finally:
        spark.conf.unset(_AUTOMERGE)
    assert "extra" in wh.read_snapshot("t").columns
    rows = {(r.id, r.extra) for r in wh.read_snapshot("t").collect()}
    assert rows == {(1, None), (2, 9)}


def test_sql_merge_without_evolution_keeps_schema(spark, tmp_path):
    wh = _wh_with_t(spark, tmp_path)
    spark.createDataFrame(
        [(2, "B", 9)], "id int, name string, extra int"
    ).createOrReplaceTempView("cdc_src4")
    wh.sql(
        "MERGE INTO t USING cdc_src4 AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert wh.read_snapshot("t").columns == ["id", "name"]


# ---------------------------------------------------------------------------
# verdict task 2: DEFAULT keyword + default-fill in MERGE insert clauses
# ---------------------------------------------------------------------------


def test_sql_merge_insert_default_keyword_and_unlisted_fill(
    spark, tmp_path
):
    wh = TxLogWarehouse(spark, str(tmp_path / "whd"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, "a", 5, "eu")], "id int, name string, n int, region string"
        ),
        "t",
    )
    wh.sql("ALTER TABLE t ALTER COLUMN n SET DEFAULT 7")
    wh.sql("ALTER TABLE t ALTER COLUMN region SET DEFAULT 'apac'")
    spark.createDataFrame(
        [(2, "b"), (3, "c")], "id int, name string"
    ).createOrReplaceTempView("mrg_src")
    # id=2: DEFAULT keyword in the VALUES list; region unlisted → its
    # declared default (Delta's fill rule, NOT NULL); name unlisted on
    # neither clause path
    wh.sql(
        "MERGE INTO t USING mrg_src AS s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.id = 2 THEN "
        "INSERT (id, name, n) VALUES (s.id, s.name, DEFAULT) "
        "WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)"
    )
    rows = {
        (r.id, r.name, r.n, r.region)
        for r in wh.read_snapshot("t").collect()
    }
    assert rows == {
        (1, "a", 5, "eu"),
        (2, "b", 7, "apac"),
        (3, "c", 7, "apac"),
    }


@pytest.mark.parametrize("via", ["cow", "dv"])
def test_api_merge_insert_defaults_both_vias(spark, tmp_path, via):
    log = TableLog(spark, str(tmp_path / f"md_{via}"))
    log.write(
        spark.createDataFrame([(1, "a", 5)], "id int, name string, n int")
    )
    log.set_default("n", "42")
    src = spark.createDataFrame([(9, "z")], "id int, name string")
    log.merge(
        src,
        ["id"],
        not_matched_clauses=[
            {
                "condition": None,
                "set": {"id": "s.id", "name": "s.name", "n": "DEFAULT"},
            }
        ],
        via=via,
    )
    rows = {(r.id, r.name, r.n) for r in log.read().collect()}
    assert rows == {(1, "a", 5), (9, "z", 42)}


def test_merge_branches_default_fill_without_declared_default(spark):
    """No declared default → unlisted columns still NULL-fill (ANSI)."""
    tgt = spark.createDataFrame(TARGET, T_SCHEMA)
    src = spark.createDataFrame([(8, "h", 80)], T_SCHEMA)
    out = merge_branches(
        tgt,
        src,
        ["id"],
        not_matched=[{"condition": None, "set": {"id": "s.id"}}],
    )
    row = [r for r in out.collect() if r.id == 8][0]
    assert row.name is None and row.val is None


def test_insert_default_cells_resolve_once_per_column(
    spark, tmp_path, monkeypatch
):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame([(1, "x", 5)], "id int, tag string, n int"),
        "t",
    )
    wh.sql("ALTER TABLE t ALTER COLUMN tag SET DEFAULT 'pending'")
    wh.sql("ALTER TABLE t ALTER COLUMN n SET DEFAULT 7")

    real_sql = spark.sql
    queries = []

    def counting_sql(q, *a, **k):
        queries.append(q)
        return real_sql(q, *a, **k)

    monkeypatch.setattr(spark, "sql", counting_sql)
    wh.sql(
        "INSERT INTO t (id, tag, n) VALUES "
        "(2, DEFAULT, DEFAULT), (3, DEFAULT, 9), (4, DEFAULT, DEFAULT)"
    )
    monkeypatch.undo()
    # every DEFAULT cell (5 here) resolves inside the one select that
    # casts the VALUES rows: one driver query for the statement, not one
    # per cell or per column
    assert len(queries) == 1, queries
    rows = {
        (r.id, r.tag, r.n) for r in wh.read_snapshot("t").collect()
    }
    assert rows == {
        (1, "x", 5),
        (2, "pending", 7),
        (3, "pending", 9),
        (4, "pending", 7),
    }
