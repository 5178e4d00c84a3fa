"""Transaction-log table format (sources/txlog.py): ACID snapshots,
file-sharing time travel, optimistic concurrency, stats-based data
skipping, and the TxLogWarehouse pipeline backend."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
    run_pipeline,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    CHECKPOINT_EVERY,
    ConcurrentCommitError,
    TableLog,
)

from conftest import SF_DIR


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_roundtrip_overwrite_and_schema(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    df = _df(spark, [(1, "a"), (2, "b")], ["id", "s"])
    v = log.write(df)
    assert v == 1
    out = log.read()
    assert out.schema == df.schema
    assert sorted((r.id, r.s) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_append_shares_files_across_versions(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    v1_files = set(log.snapshot(1).files)
    log.write(_df(spark, [(2,)], ["id"]), mode="append")
    v2 = log.snapshot(2)
    # the append did not rewrite v1's data: v1 files are still active in v2
    assert v1_files < set(v2.files)
    assert sorted(r.id for r in log.read(1).collect()) == [1]
    assert sorted(r.id for r in log.read(2).collect()) == [1, 2]


def test_overwrite_keeps_history_without_copying(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    paths_v1 = {
        os.path.join(log.data_dir, p): os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot(1).files
    }
    log.write(_df(spark, [(99,)], ["id"]))
    # old files untouched on disk (time travel reads them), new snapshot
    # doesn't include them
    for p, mtime in paths_v1.items():
        assert os.path.exists(p) and os.path.getmtime(p) == mtime
    assert [r.id for r in log.read(1).collect()] == [1]
    assert [r.id for r in log.read(2).collect()] == [99]
    ops = [h["operation"] for h in log.history()]
    assert ops == ["overwrite", "overwrite"]
    ids = {h["snapshot_id"] for h in log.history()}
    assert len(ids) == 2  # distinct snapshot ids


def test_uncommitted_files_are_invisible(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    # simulate a writer crash after data landed but before the commit:
    # stage files directly with no commit
    log._stage(_df(spark, [(777,)], ["id"]), None)
    assert [r.id for r in log.read().collect()] == [1]


def test_concurrent_commit_loser_raises_and_write_retries(spark, tmp_path):
    log_a = TableLog(spark, str(tmp_path / "t"))
    log_b = TableLog(spark, str(tmp_path / "t"))
    log_a.write(_df(spark, [(1,)], ["id"]))
    # low-level: both writers race for version 2 — exactly one wins
    payload = {
        "version": 2,
        "snapshot_id": "x",
        "parent_id": None,
        "operation": "append",
        "schema": _df(spark, [(1,)], ["id"]).schema.json(),
        "partition_by": [],
        "adds": [],
        "removes": [],
    }
    log_a._commit(2, payload)
    with pytest.raises(ConcurrentCommitError):
        log_b._commit(2, dict(payload, snapshot_id="y"))
    # high-level: write() resolves the race by taking the next version
    v = log_b.write(_df(spark, [(2,)], ["id"]), mode="append")
    assert v == 3
    assert sorted(r.id for r in log_b.read().collect()) == [1, 2]


def test_stats_file_skipping_prunes_scan(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    # range-partitioned write ⇒ files with disjoint [min,max] on `v`
    df = spark.range(1000).withColumnRenamed("id", "v").repartitionByRange(8, "v")
    log.write(df)
    n_total = len(log.snapshot().files)
    assert n_total >= 4
    pruned = log.read(filters=[("v", "between", (0, 99))])
    assert len(pruned.inputFiles()) < n_total
    assert pruned.count() == 100
    # equality + open ranges prune too, and results stay exact
    assert log.read(filters=[("v", "==", 500)]).count() == 1
    ge = log.read(filters=[("v", ">=", 900)])
    assert len(ge.inputFiles()) < n_total and ge.count() == 100


def test_partition_pruning_and_reconstruction(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    df = _df(spark, [(1, "us"), (2, "us"), (3, "eu"), (4, None)], ["id", "region"])
    log.write(df, partition_by=["region"])
    out = log.read()
    assert dict(out.dtypes)["region"] == "string"  # reconstructed, typed
    assert sorted((r.id, r.region) for r in out.collect()) == [
        (1, "us"), (2, "us"), (3, "eu"), (4, None),
    ]
    us = log.read(filters=[("region", "==", "us")])
    assert {f for f in us.inputFiles()} < {f for f in out.inputFiles()}
    assert sorted(r.id for r in us.collect()) == [1, 2]


def test_replace_where_partition_reload_is_idempotent(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        _df(spark, [(1, "a"), (2, "b")], ["id", "k"]), partition_by=["k"]
    )
    for _ in range(2):  # idempotent re-run
        log.write(
            _df(spark, [(10, "a")], ["id", "k"]),
            partition_by=["k"],
            replace_where={"k": ["a"]},
        )
        assert sorted((r.id, r.k) for r in log.read().collect()) == [
            (2, "b"), (10, "a"),
        ]
    # history intact: version 1 still has the original partition a
    assert sorted(r.id for r in log.read(1).collect()) == [1, 2]


def test_append_must_match_partitioning(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, "a")], ["id", "k"]), partition_by=["k"])
    with pytest.raises(ValueError, match="partitioning"):
        log.write(_df(spark, [(2, "b")], ["id", "k"]), mode="append")


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    for i in range(CHECKPOINT_EVERY + 2):
        log.write(_df(spark, [(i,)], ["id"]), mode="overwrite" if i == 0 else "append")
    assert os.path.exists(log._checkpoint_path(CHECKPOINT_EVERY))
    snap = log.snapshot()
    assert snap.version == CHECKPOINT_EVERY + 2
    assert sorted(r.id for r in log.read().collect()) == list(
        range(CHECKPOINT_EVERY + 2)
    )
    # corrupt all commits at/below the checkpoint: snapshot() of the latest
    # version must not read them (replay starts at the checkpoint)
    for v in range(1, CHECKPOINT_EVERY + 1):
        with open(log._commit_path(v), "w") as f:
            f.write("garbage")
    assert sorted(r.id for r in log.read().collect()) == list(
        range(CHECKPOINT_EVERY + 2)
    )


def test_vacuum_reclaims_only_unreferenced(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    log.write(_df(spark, [(2,)], ["id"]))  # v1 files now garbage-eligible
    # default retention: freshly-written files are NEVER deleted, even
    # unreferenced ones — they may belong to an in-flight writer whose
    # commit doesn't exist yet
    assert log.vacuum(retain_last=1) == 0
    assert [r.id for r in log.read(1).collect()] == [1]
    deleted = log.vacuum(retain_last=1, min_file_age_s=0)
    assert deleted >= 1
    assert [r.id for r in log.read().collect()] == [2]
    with pytest.raises(FileNotFoundError, match="vacuum"):
        log.read(1).collect()


def test_txlog_warehouse_runs_pipeline_and_time_travels(spark, tmp_path):
    res = run_pipeline(
        spark, SF_DIR, str(tmp_path / "wh"), warehouse_cls=TxLogWarehouse
    )
    assert res["fact_rows"] > 0
    assert res["quality"]["passed"] is True
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    assert "star_fact" in wh.tables()
    # stage rerun = new snapshot; VERSION AS OF reads the old one through
    # the same SQL surface the reference verifies with (README.md:143-154)
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        stage_ingest,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
        Catalog,
    )

    stage_ingest(wh, Catalog(spark, SF_DIR))
    assert wh.versions("trips_raw") == [1, 2]
    n_v1 = wh.sql("SELECT count(*) AS n FROM trips_raw VERSION AS OF 1").head().n
    n_v2 = wh.sql("SELECT count(*) AS n FROM trips_raw VERSION AS OF 2").head().n
    assert n_v1 == n_v2 == res["ingest_rows"]
    # commits carry real snapshot ids, not just sequential versions
    hist = TableLog(spark, wh.path("trips_raw")).history()
    assert len({h["snapshot_id"] for h in hist}) == 2


def test_commit_log_is_valid_json_with_stats(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, 5.0, "x")], ["id", "val", "s"]).coalesce(1))
    with open(log._commit_path(1)) as f:
        c = json.load(f)
    (add,) = [a for a in c["adds"] if a["rows"]]
    assert add["rows"] == 1
    assert add["stats"]["id"]["min"] == 1 and add["stats"]["id"]["max"] == 1
    assert add["stats"]["val"]["min"] == 5.0
    assert add["stats"]["s"]["min"] == "x"


def test_replace_where_matches_boolean_partitions(spark, tmp_path):
    """str(True) is 'True' but hive paths say 'true' — replace_where on a
    boolean partition column must still hit the old files, or a reload
    silently duplicates the partition."""
    log = TableLog(spark, str(tmp_path / "t"))
    rows = [(1, True), (2, False)]
    log.write(_df(spark, rows, ["id", "flag"]), partition_by=["flag"])
    log.write(
        _df(spark, [(3, True)], ["id", "flag"]),
        mode="overwrite",
        partition_by=["flag"],
        replace_where={"flag": [True]},
    )
    got = sorted((r.id, r.flag) for r in log.read().collect())
    assert got == [(2, False), (3, True)]


def test_partition_pruning_conservative_for_uncoercible_literals(spark, tmp_path):
    """A filter literal _typed cannot coerce (Decimal) must keep the file
    — pruning it would silently drop matching rows, since Spark's
    re-applied row filter cannot resurrect an unscanned file."""
    from decimal import Decimal

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        _df(spark, [(1, 5.0), (2, 7.0)], ["id", "price"]),
        partition_by=["price"],
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _may_match,
    )

    meta = {"partition_values": {"price": "5.0"}}
    assert _may_match(meta, ("price", "==", Decimal("5.0"))) is True
    assert _may_match(meta, ("price", "<", Decimal("9.9"))) is True
    # coercible literals still prune exactly
    assert _may_match(meta, ("price", "==", 7.0)) is False


def test_pyds_append_to_partitioned_table_refuses(spark, tmp_path):
    """format('txlog') writes are unpartitioned; appending one to a
    partitioned table must refuse instead of silently flattening the
    declared layout (which would break later partition reloads)."""
    import pytest as _pytest

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    path = str(tmp_path / "t")
    log = TableLog(spark, path)
    log.write(_df(spark, [(1, "a")], ["id", "part"]), partition_by=["part"])
    with _pytest.raises(Exception, match="partitioning"):
        _df(spark, [(2, "b")], ["id", "part"]).write.format("txlog").mode(
            "append"
        ).save(path)
    # layout metadata untouched
    assert log.snapshot().partition_by == ["part"]


def test_schema_evolution_append_adds_nullable_column(spark, tmp_path):
    """Appending with a NEW column evolves the table schema: old files
    read null for it, and the new file's rows carry it."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, "a")], ["id", "s"]))
    log.write(
        spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double"),
        mode="append",
    )
    out = {r.id: (r.s, r.score) for r in log.read().collect()}
    assert out == {1: ("a", None), 2: ("b", 9.5)}
    # time travel keeps the pre-evolution schema
    assert log.read(1).columns == ["id", "s"]


def test_schema_evolution_append_may_omit_columns(spark, tmp_path):
    """A writer missing an existing column is fine — the column stays in
    the schema and the new rows read null (Delta mergeSchema semantics)."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, "a")], ["id", "s"]))
    log.write(spark.createDataFrame([(2,)], "id long"), mode="append")
    out = {r.id: r.s for r in log.read().collect()}
    assert out == {1: "a", 2: None}
    assert log.read().columns == ["id", "s"]


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    """Silent type drift corrupts history: a type change on append must
    refuse; only a full overwrite may redefine the schema."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, 5)], "id long, v long"))
    with pytest.raises(ValueError, match="schema evolution"):
        log.write(
            spark.createDataFrame([(2, "x")], "id long, v string"),
            mode="append",
        )
    # overwrite is the sanctioned way
    log.write(spark.createDataFrame([(3, "y")], "id long, v string"))
    assert [(r.id, r.v) for r in log.read().collect()] == [(3, "y")]


def test_timestamp_as_of_resolves_commit_time(spark, tmp_path):
    import time as _time

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    t_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    log.write(_df(spark, [(2,)], ["id"]), mode="append")
    # between the two commits -> version 1 only
    assert log.version_at(t_between) == 1
    assert [r.id for r in log.read(timestamp_ms=t_between).collect()] == [1]
    # now -> latest
    assert sorted(
        r.id for r in log.read(timestamp_ms=int(_time.time() * 1000)).collect()
    ) == [1, 2]
    # before the table existed -> error
    with pytest.raises(ValueError, match="no version"):
        log.version_at(0)
    with pytest.raises(ValueError, match="not both"):
        log.read(version=1, timestamp_ms=t_between)
    assert log.history()[0]["ts_ms"] is not None


def test_pyds_timestamp_as_of_option(spark, tmp_path):
    import time as _time

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    path = str(tmp_path / "t")
    log = TableLog(spark, path)
    log.write(_df(spark, [(1,)], ["id"]))
    t_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    log.write(_df(spark, [(2,)], ["id"]), mode="append")
    got = (
        spark.read.format("txlog")
        .option("timestampAsOf", t_between)
        .load(path)
        .collect()
    )
    assert [r.id for r in got] == [1]


def test_warehouse_sql_timestamp_as_of(spark, tmp_path):
    """`tbl TIMESTAMP AS OF '<iso>'` resolves through commit wall-clock on
    BOTH backends — the txlog commit log and the base warehouse's stamped
    snapshot dirs; the phrase inside a string literal is untouched."""
    import time as _time
    from datetime import datetime, timezone

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(_df(spark, [(1,)], ["id"]), "ts_snap")
    between = datetime.now(timezone.utc).isoformat()
    _time.sleep(0.05)
    wh.append(_df(spark, [(2,)], ["id"]), "ts_snap")

    n_then = wh.sql(
        f"SELECT count(*) AS n FROM ts_snap TIMESTAMP AS OF '{between}'"
    ).head().n
    n_now = wh.sql("SELECT count(*) AS n FROM ts_snap").head().n
    assert (n_then, n_now) == (1, 2)
    # literal stays a literal
    row = wh.sql(
        "SELECT 'ts_snap TIMESTAMP AS OF ''2020-01-01''' AS lit, "
        "count(*) AS n FROM ts_snap GROUP BY 1"
    ).head()
    assert row.lit == "ts_snap TIMESTAMP AS OF '2020-01-01'"
    assert row.n == 2
    # base warehouse: the same SQL resolves through the _commit_ts.json
    # stamps written into the versioned snapshot dirs
    base = Warehouse(spark, str(tmp_path / "wh2"))
    base.write_snapshot(_df(spark, [(1,)], ["id"]), "b_snap")
    b_between = datetime.now(timezone.utc).isoformat()
    _time.sleep(0.05)
    base.write_snapshot(_df(spark, [(1,), (2,)], ["id"]), "b_snap")
    assert (
        base.sql(
            f"SELECT count(*) AS n FROM b_snap TIMESTAMP AS OF '{b_between}'"
        ).head().n
        == 1
    )
    assert base.sql("SELECT count(*) AS n FROM b_snap").head().n == 2
    # a timestamp before the first snapshot is an error, not version 1
    with pytest.raises(ValueError, match="no version at or before"):
        base.sql(
            "SELECT * FROM b_snap TIMESTAMP AS OF '2001-01-01T00:00:00+00:00'"
        )
    # pre-stamp snapshot dirs (no _commit_ts.json) fall back to dir mtime
    # under a monotone envelope — still resolvable, still ordered
    os.remove(
        os.path.join(base.path("b_snap"), "v1", "_commit_ts.json")
    )
    assert base.version_at_timestamp(
        "b_snap", int(datetime.now(timezone.utc).timestamp() * 1000)
    ) == 2


def test_optimize_compacts_files_same_rows(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    for i in range(4):  # four appends -> many small files
        log.write(
            spark.range(i * 100, (i + 1) * 100).withColumnRenamed("id", "v"),
            mode="overwrite" if i == 0 else "append",
        )
    before = sorted(r.v for r in log.read().collect())
    n_before = len(log.snapshot().files)
    v = log.optimize(n_files=2)
    assert log.snapshot().version == v
    assert len(log.snapshot().files) <= 2 < n_before
    assert sorted(r.v for r in log.read().collect()) == before
    # time travel still reads the pre-optimize layout
    assert sorted(r.v for r in log.read(v - 1).collect()) == before
    assert log.history()[-1]["operation"] == "optimize"


def test_optimize_zorder_improves_second_column_pruning(spark, tmp_path):
    # grid data: a linear sort on x leaves y spanning the full domain in
    # every file; z-order must make a y-range filter skip files
    log = TableLog(spark, str(tmp_path / "t"))
    df = (
        spark.range(4096)
        .selectExpr("CAST(id % 64 AS LONG) AS x", "CAST(id DIV 64 AS LONG) AS y")
        .orderBy("x")
    )
    log.write(df.repartitionByRange(8, "x"))
    n_linear = len(log.read(filters=[("y", "between", (0, 7))]).inputFiles())
    log.optimize(n_files=8, zorder_by=["x", "y"])
    pruned = log.read(filters=[("y", "between", (0, 7))])
    assert len(pruned.inputFiles()) < n_linear
    assert pruned.count() == 8 * 64
    # full contents unchanged
    assert log.read().count() == 4096


def test_optimize_partitioned_compacts_within_partitions(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        _df(spark, [(i, "a" if i % 2 else "b") for i in range(20)], ["id", "k"]),
        partition_by=["k"],
    )
    log.write(
        _df(spark, [(100 + i, "a" if i % 2 else "b") for i in range(20)], ["id", "k"]),
        mode="append",
        partition_by=["k"],
    )
    before = sorted(r.id for r in log.read().collect())
    n_before = len(log.snapshot().files)
    log.optimize()
    assert len(log.snapshot().files) < n_before
    assert log.snapshot().partition_by == ["k"]
    assert sorted(r.id for r in log.read().collect()) == before
    # partition pruning still works on the compacted layout
    a = log.read(filters=[("k", "==", "a")])
    assert len(a.inputFiles()) < len(log.read().inputFiles())
    with pytest.raises(ValueError, match="zorder_by on a partitioned"):
        log.optimize(zorder_by=["id"])


def test_table_changes_reports_inserts_and_deletes(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,), (2,)], ["id"]))                # v1: +1 +2
    log.write(_df(spark, [(3,)], ["id"]), mode="append")       # v2: +3
    log.write(_df(spark, [(9,)], ["id"]))                      # v3: -1-2-3 +9

    ch = log.table_changes(0)
    got = sorted((r.id, r._change_type, r._commit_version) for r in ch.collect())
    assert got == [
        (1, "delete", 3), (1, "insert", 1),
        (2, "delete", 3), (2, "insert", 1),
        (3, "delete", 3), (3, "insert", 2),
        (9, "insert", 3),
    ]
    # bounded window: only v2's append
    ch12 = log.table_changes(1, 2).collect()
    assert [(r.id, r._change_type) for r in ch12] == [(3, "insert")]
    assert all(r._commit_ts_ms is not None for r in ch12)


def test_table_changes_skips_optimize_commits(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    log.write(_df(spark, [(2,)], ["id"]), mode="append")
    v = log.optimize(n_files=1)
    ch = log.table_changes(2)  # window contains ONLY the optimize commit
    assert ch.count() == 0
    assert log.snapshot().version == v


def test_table_changes_across_schema_evolution(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, "a")], ["id", "s"]))
    log.write(
        spark.createDataFrame([(2, "b", 1.5)], "id long, s string, x double"),
        mode="append",
    )
    ch = {(r.id, r._change_type): r.x for r in log.table_changes(0).collect()}
    assert ch == {(1, "insert"): None, (2, "insert"): 1.5}


def test_apply_changes_maintains_summary_through_overwrite(spark, tmp_path):
    """CDC-driven incremental view maintenance: folding table_changes into
    an additive summary must equal a from-scratch recompute of the final
    table — bit-identical sums, vanished groups dropped."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.aggregates import (
        exact_sum,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        apply_changes_to_summary,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    rows1 = [("a", 1.25), ("a", 2.50), ("b", 4.00)]
    log.write(_df(spark, rows1, ["k", "v"]))                       # v1
    log.write(_df(spark, [("b", 0.75)], ["k", "v"]), mode="append")  # v2
    # v3 overwrite: group a shrinks, group b vanishes, group c appears
    rows3 = [("a", 9.00), ("c", 1.10)]
    log.write(_df(spark, rows3, ["k", "v"]))                       # v3

    def summarize(df):
        return df.groupBy("k").agg(
            F.count("*").cast("long").alias("cnt"),
            exact_sum("v", 2).alias("v"),
        )

    # summary as of v1, maintained through v2..v3 via the change feed
    summary = summarize(log.read(1))
    summary = apply_changes_to_summary(
        summary, log.table_changes(1, 3), ["k"], sum_cols={"v": 2}
    )
    got = sorted((r.k, r.cnt, r.v) for r in summary.collect())
    want = sorted(
        (r.k, r.cnt, r.v) for r in summarize(log.read(3)).collect()
    )
    assert got == want == [("a", 1, 9.0), ("c", 1, 1.1)]


def test_table_changes_reads_deletes_under_parent_schema(spark, tmp_path):
    """A full overwrite may redefine the schema; the rows it DELETED were
    written under the parent schema and must be read with it — not the
    new one (type clash) — and a dropped column's deleted values survive
    in the feed."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, 10.0)], ["id", "v"]))        # v1: v double
    log.write(spark.createDataFrame([(2, "x")], "id long, v string"))  # v2
    ch = log.table_changes(1, 2).collect()  # v2 only: -1(double) +2(string)
    got = {(r._change_type, r.id): r.v for r in ch}
    # the type-conflicted column is emitted as string on every change;
    # the deleted value is preserved, read under its own (parent) schema
    assert got == {("delete", 1): "10.0", ("insert", 2): "x"}

    # dropped column: deleted rows still carry it, inserts read null
    log2 = TableLog(spark, str(tmp_path / "t2"))
    log2.write(_df(spark, [(1, 7.5)], ["id", "v"]))
    log2.write(spark.createDataFrame([(2,)], "id long"))
    ch2 = {(r._change_type, r.id): r.v for r in log2.table_changes(1).collect()}
    assert ch2 == {("delete", 1): 7.5, ("insert", 2): None}


def test_table_changes_window_bounds_and_missing_table(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    # to_version=0 is an explicit empty window, not "latest"
    assert log.table_changes(-1, 0).count() == 0
    with pytest.raises(FileNotFoundError):
        TableLog(spark, str(tmp_path / "missing")).table_changes(0)


def test_concurrent_append_during_write_keeps_winner_schema(spark, tmp_path):
    """A writer that loses a commit race must re-merge its schema against
    the WINNER's snapshot on retry — not publish the stale pre-race merge,
    which would erase the winner's schema evolution."""
    root = str(tmp_path / "t")
    log_a, log_b = TableLog(spark, root), TableLog(spark, root)
    log_a.write(_df(spark, [(1,)], ["id"]))

    orig = log_b._commit
    state = {"raced": False}

    def racy(version, payload):
        if not state["raced"]:
            state["raced"] = True
            # winner lands first WITH a new column, taking this version
            log_a.write(
                spark.createDataFrame([(2, "x")], "id long, extra string"),
                mode="append",
            )
        return orig(version, payload)

    log_b._commit = racy
    log_b.write(_df(spark, [(3,)], ["id"]), mode="append")
    assert state["raced"]
    cols = log_b.read().columns
    assert cols == ["id", "extra"]  # the winner's evolution survived
    got = {(r.id, r.extra) for r in log_b.read().collect()}
    assert got == {(1, None), (2, "x"), (3, None)}


def test_concurrent_append_during_optimize_survives_exactly_once(spark, tmp_path):
    """optimize() freezes its remove set and compacts the FROZEN snapshot's
    rows; an append racing the commit must survive exactly once — never
    duplicated into the compacted files, never removed."""
    root = str(tmp_path / "t")
    log, log_b = TableLog(spark, root), TableLog(spark, root)
    log.write(spark.range(50).withColumnRenamed("id", "v"))
    log.write(spark.range(50, 100).withColumnRenamed("id", "v"), mode="append")

    orig = log._commit
    state = {"raced": False}

    def racy(version, payload):
        if not state["raced"] and payload["operation"] == "optimize":
            state["raced"] = True
            log_b.write(_df(spark, [(999,)], ["v"]), mode="append")
        return orig(version, payload)

    log._commit = racy
    log.optimize(n_files=1)
    assert state["raced"]
    vals = sorted(r.v for r in log.read().collect())
    assert vals == sorted(list(range(100)) + [999])  # no dupes, no loss


def test_table_changes_rejects_future_to_version(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    with pytest.raises(ValueError, match="no version 9"):
        log.table_changes(0, 9)


def test_failed_append_validation_stages_nothing(spark, tmp_path):
    """A write that fails the layout/schema guard must fail BEFORE
    materializing df — no orphaned files in the shared data tree."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, "a")], ["id", "k"]), partition_by=["k"])

    def count_files():
        return sum(len(fs) for _, _, fs in os.walk(log.data_dir))

    n = count_files()
    with pytest.raises(ValueError, match="partitioning"):
        log.write(_df(spark, [(2, "b")], ["id", "k"]), mode="append")
    with pytest.raises(ValueError, match="schema evolution"):
        log.write(
            spark.createDataFrame([(3, 7)], "id long, k long"),
            mode="append",
            partition_by=["k"],
        )
    assert count_files() == n


# ---- row-level DELETE / UPDATE (copy-on-write) --------------------------


def _rowops_table(spark, path):
    log = TableLog(spark, path)
    a = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("grp"), (F.col("id") * 10).alias("v")
    )
    b = spark.range(100, 200).select(
        F.col("id"), (F.col("id") % 4).alias("grp"), (F.col("id") * 10).alias("v")
    )
    log.write(a, mode="overwrite")
    log.write(b, mode="append")
    return log


def test_delete_rewrites_only_candidate_files(spark, tmp_path):
    log = _rowops_table(spark, str(tmp_path / "t"))
    before = set(log.snapshot().files)
    res = log.delete([("id", "between", (150, 159))])
    assert res["rows_deleted"] == 10
    after = log.snapshot()
    # files whose id-range stats exclude [150,159] keep their exact paths
    kept_paths = before & set(after.files)
    assert res["files_skipped"] == len(kept_paths) and kept_paths
    assert after.version == res["version"]
    ids = {r.id for r in log.read().collect()}
    assert ids == set(range(0, 150)) | set(range(160, 200))
    # time travel still sees the pre-delete rows
    assert log.read(version=2).count() == 200


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, tag string"
    )
    log.write(df, mode="overwrite")
    res = log.delete([("tag", "==", "a")])
    assert res["rows_deleted"] == 1
    assert sorted(r.id for r in log.read().collect()) == [2, 3]


def test_delete_matching_nothing_commits_nothing(spark, tmp_path):
    log = _rowops_table(spark, str(tmp_path / "t"))
    v = log.snapshot().version
    res = log.delete([("id", "==", 10_000)])
    assert res["rows_deleted"] == 0 and log.snapshot().version == v


def test_update_rewrites_values_keeps_schema_and_stats(spark, tmp_path):
    log = _rowops_table(spark, str(tmp_path / "t"))
    res = log.update([("id", "<", 10)], {"v": "v + 1000000"})
    assert res["rows_updated"] == 10
    out = {r.id: r.v for r in log.read().collect()}
    assert out[0] == 1000000 and out[5] == 1000050 and out[10] == 100
    # schema unchanged (the cast-back guard)
    assert log.read().schema == log.read(version=2).schema
    # rewritten file stats reflect the post-update values, so skipping
    # still prunes correctly on v
    hits = log.read(filters=[("v", ">=", 1000000)]).count()
    assert hits == 10


def test_delete_feeds_the_change_feed(spark, tmp_path):
    log = _rowops_table(spark, str(tmp_path / "t"))
    v0 = log.snapshot().version
    log.delete([("id", "==", 7)])
    ch = log.table_changes(v0).filter(F.col("_change_type") == "delete")
    deleted = {r.id for r in ch.collect()}
    assert 7 in deleted
    # net effect (inserts - deletes) for any surviving row is zero
    net = (
        log.table_changes(v0)
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .filter(F.col("net") != 0)
        .collect()
    )
    assert {r.id for r in net} == {7}


def test_warehouse_row_level_ops(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.range(10).selectExpr("id", "id * 2 AS v"), "t")
    assert wh.delete("t", [("id", "<", 3)])["rows_deleted"] == 3
    assert wh.update("t", [("id", "==", 5)], {"v": "999"})["rows_updated"] == 1
    out = {r.id: r.v for r in wh.read("t").collect()}
    assert set(out) == set(range(3, 10)) and out[5] == 999


def test_merge_into_prunes_updates_inserts_and_deletes(spark, tmp_path):
    """MERGE with file pruning: the equality oracle is merge_upsert over
    the FULL table, which the pruned commit must reproduce exactly."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        merge_upsert,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    # range-partitioned files give disjoint id stats so pruning can bite
    log.write(
        spark.range(1000)
        .selectExpr("id", "id * 10 AS v")
        .repartitionByRange(8, "id")
    )
    n_files = len(log.snapshot().files)
    src = spark.createDataFrame(
        [(5, 999, False), (7, 777, True), (2000, 1, False), (5000, 0, True)],
        "id long, v long, del boolean",
    )
    expected = sorted(
        map(
            tuple,
            merge_upsert(
                log.read(), src, ["id"], delete_condition=F.col("del")
            ).collect(),
        )
    )
    res = log.merge(src, ["id"], delete_condition="del")
    assert res["files_rewritten"] < n_files  # stats pruning bit
    assert res["files_skipped"] == n_files - res["files_rewritten"]
    got = sorted(map(tuple, log.read().collect()))
    assert got == expected
    # semantics spot-checks: update won, matched-delete dropped,
    # unmatched-delete row inserted (SQL MERGE's WHEN MATCHED gate)
    out = dict(got)
    # update won; matched delete dropped; plain insert landed; the
    # UNMATCHED delete-flagged row inserted (MERGE gates delete on
    # WHEN MATCHED)
    assert out[5] == 999 and 7 not in out and out[2000] == 1 and out[5000] == 0
    assert res["rows_written"] > 0
    # time travel: version 1 unchanged
    assert log.read(1).count() == 1000


def test_merge_empty_source_is_a_noop(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(10).selectExpr("id", "id AS v"))
    v = log.snapshot().version
    src = spark.createDataFrame([], "id long, v long")
    res = log.merge(src, ["id"])
    assert res["files_rewritten"] == 0 and log.snapshot().version == v


def test_merge_insert_only_when_no_candidates(spark, tmp_path):
    """Source keys entirely outside every file's range: zero rewrites,
    pure insert commit."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(100).selectExpr("id", "id AS v"))
    src = spark.createDataFrame([(10_000, 1), (10_001, 2)], "id long, v long")
    res = log.merge(src, ["id"])
    assert res["files_rewritten"] == 0 and res["rows_written"] == 2
    assert log.read().count() == 102


def test_cdc_apply_stream_materializes_change_feed(spark, tmp_path):
    """Continuous CDC apply: a txlog change-stream tail merged into a
    target table exactly-once; slicing a time-ordered feed at different
    batch boundaries yields the bit-identical table; delete records for
    absent keys are no-ops (CDC semantics, not SQL MERGE's)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming import (
        apply_changes_batch,
        run_cdc_apply,
    )

    register_txlog(spark)
    changes = [
        # (key, value, lsn, deleted)
        (1, "a1", 1, False),
        (2, "b1", 2, False),
        (1, "a2", 3, False),   # later update wins
        (3, "c1", 4, False),
        (2, None, 5, True),    # delete existing
        (9, None, 6, True),    # delete absent key: no-op
        (4, "d1", 7, False),
    ]
    schema = "k long, val string, lsn long, deleted boolean"

    def run(slices, root_name):
        feed = TableLog(spark, str(tmp_path / f"feed_{root_name}"))
        target = str(tmp_path / root_name)
        chk = str(tmp_path / f"chk_{root_name}")
        for sl in slices:
            feed.write(spark.createDataFrame(sl, schema), mode="append")
            run_cdc_apply(
                spark,
                spark.readStream.format("txlog").load(feed.root),
                target,
                chk,
                keys=["k"],
                order_col="lsn",
                delete_col="deleted",
            )
        return target

    t1 = run([changes[:3], changes[3:5], changes[5:]], "one")
    t2 = run([changes[:1], changes[1:6], changes[6:]], "two")
    rows1 = sorted(map(tuple, TableLog(spark, t1).read().select("k", "val", "lsn").collect()))
    rows2 = sorted(map(tuple, TableLog(spark, t2).read().select("k", "val", "lsn").collect()))
    assert rows1 == rows2 == [(1, "a2", 3), (3, "c1", 4), (4, "d1", 7)]

    # replay idempotence outside the checkpoint: same txn token = no-op
    log = TableLog(spark, t1)
    v = log.versions()[-1]
    app = f"cdc-apply:{t1}"
    replay = spark.createDataFrame([(1, "stale", 0, False)], schema)
    apply_changes_batch(
        spark, replay, t1, ["k"], "lsn", delete_col="deleted", txn=(app, 0)
    )
    assert log.versions()[-1] == v


def test_merge_latest_is_invariant_to_arbitrary_slicing(spark, tmp_path):
    """Out-of-order CDC apply (tombstone-retaining merge_latest): ANY
    slicing of the change set into batches — including deliveries that
    put old changes in later batches — yields the bit-identical table;
    a stale update never resurrects a deleted key."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming import (
        apply_changes_batch,
    )

    schema = "k long, val string, lsn long, deleted boolean"
    changes = [
        (1, "a1", 1, False),
        (1, "a3", 5, False),
        (2, "b1", 2, False),
        (2, None, 6, True),   # delete k=2 at lsn 6
        (2, "b2", 4, False),  # STALE update, may arrive after the delete
        (3, "c1", 3, False),
    ]
    slicings = [
        [changes],                                  # one batch
        [changes[:2], changes[2:4], changes[4:]],   # stale b2 after delete
        [[c] for c in changes],                     # one change per batch
        [changes[4:], changes[:4]],                 # wildly out of order
    ]
    results = []
    for i, slices in enumerate(slicings):
        root = str(tmp_path / f"t{i}")
        for j, sl in enumerate(slices):
            apply_changes_batch(
                spark,
                spark.createDataFrame(sl, schema),
                root,
                ["k"],
                "lsn",
                delete_col="deleted",
                out_of_order=True,
            )
        live = (
            TableLog(spark, root)
            .read()
            .filter(~F.col("deleted"))
            .select("k", "val", "lsn")
        )
        results.append(sorted(map(tuple, live.collect())))
    assert all(r == results[0] for r in results)
    assert results[0] == [(1, "a3", 5), (3, "c1", 3)]  # k=2 stays deleted


def test_merge_latest_requires_tombstone_column(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, "a", 1)], "k long, v string, lsn long"))
    src = spark.createDataFrame(
        [(1, "b", 2, True)], "k long, v string, lsn long, gone boolean"
    )
    with pytest.raises(ValueError, match="tombstone"):
        log.merge_latest(src, ["k"], "lsn", delete_col="gone")


def test_rowop_aborts_when_concurrent_overwrite_removes_candidates(
    spark, tmp_path, monkeypatch
):
    """The frozen-set guard: if a concurrent overwrite lands while a
    row-level op is staging, committing would resurrect rows the winner
    removed — the op must abort, not publish."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(100).selectExpr("id", "id AS v"))

    original_stage = TableLog._stage

    def stage_with_concurrent_overwrite(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        # restore FIRST: the concurrent writer below must stage normally
        monkeypatch.setattr(TableLog, "_stage", original_stage)
        # another writer overwrites the table AFTER we staged but BEFORE
        # we commit — our candidate files leave the active set
        TableLog(spark, self.root).write(
            spark.range(5).selectExpr("id", "id AS v")
        )
        return adds

    monkeypatch.setattr(TableLog, "_stage", stage_with_concurrent_overwrite)
    with pytest.raises(ConcurrentCommitError, match="no longer active"):
        log.delete([("id", "<", 10)])
    # the winner's table is intact — nothing resurrected
    assert log.read().count() == 5


def test_table_changes_net_mode_collapses_rewrite_pairs(spark, tmp_path):
    """net=True reports the TRUE row diff of copy-on-write commits:
    surviving co-located rows (delete+insert pairs at file granularity)
    vanish; an update shows its pre-image as delete and post-image as
    insert; duplicate rows keep multiset counts."""
    log = TableLog(spark, str(tmp_path / "t"))
    # ONE file: co-located survivors are the whole point of net mode
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (2, 20), (3, 30)], "id long, v long"
        ).coalesce(1)
    )
    v0 = log.snapshot().version
    log.update([("id", "==", 2)], {"v": "21"})
    log.delete([("id", "==", 3)])
    net = log.table_changes(v0, net=True).collect()
    got = sorted((r.id, r.v, r._change_type, r._commit_version) for r in net)
    assert got == [
        (2, 20, "delete", v0 + 1),
        (2, 20, "delete", v0 + 1),
        (2, 21, "insert", v0 + 1),
        (2, 21, "insert", v0 + 1),
        (3, 30, "delete", v0 + 2),
    ]
    # raw mode still reports the co-located survivors both ways
    raw = log.table_changes(v0).count()
    assert raw > len(net)


def test_table_changes_dv_then_cow_never_double_deletes(spark, tmp_path):
    """A file deleted-from via='dv' and later rewritten by a CoW row op
    (or overwrite, or the dv cap fallback) must not re-emit the
    already-dv-deleted rows as a second unpaired delete: the dv commit
    reported them; the remove reads only the parent-snapshot-ALIVE rows
    (file minus parent deletion vector). A CDC consumer folding the feed
    would otherwise double-apply the delete — and net=True can't save it
    because net collapses per commit."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, v long"
        ).coalesce(1)
    )
    v0 = log.snapshot().version
    log.delete([("id", "==", 2)], via="dv")      # dv commit: -2, no rewrite
    log.update([("id", "==", 3)], {"v": "31"})   # CoW rewrite of that file
    ch = log.table_changes(v0).collect()
    dels = sorted(
        (r.id, r._commit_version) for r in ch if r._change_type == "delete"
    )
    # id=2 deleted EXACTLY once — by the dv commit, not again by the CoW
    assert [d for d in dels if d[0] == 2] == [(2, v0 + 1)]
    # the CoW update commit emits PRECISE update images (round 11 —
    # derivable CDC): the already-dv-deleted row never re-appears in
    # them, and the surviving co-located rows 1/4 emit nothing
    upd = sorted(
        (r.id, r.v, r._change_type)
        for r in ch
        if r._commit_version == v0 + 2
    )
    assert upd == [
        (3, 30, "update_preimage"),
        (3, 31, "update_postimage"),
    ]
    # folding the feed onto the pre-window state reproduces the live table
    net = {(1, 10): 1, (2, 20): 1, (3, 30): 1, (4, 40): 1}
    for r in ch:
        net[(r.id, r.v)] = net.get((r.id, r.v), 0) + (
            1
            if r._change_type in ("insert", "update_postimage")
            else -1
        )
    fold = {k for k, n in net.items() if n > 0}
    live = {(r.id, r.v) for r in log.read().collect()}
    assert fold == live
    # overwrite after a fresh dv delete: same invariant on the remove path
    log.delete([("id", "==", 4)], via="dv")
    v1 = log.snapshot().version
    log.write(spark.createDataFrame([(9, 90)], "id long, v long"))
    ow = [
        (r.id, r._change_type)
        for r in log.table_changes(v1).collect()
    ]
    assert (4, "delete") not in ow
    assert sorted(ow) == [(1, "delete"), (3, "delete"), (9, "insert")]


def test_merge_retries_over_concurrent_append(spark, tmp_path, monkeypatch):
    """Delta's ConcurrentAppendException rule for MERGE, resolved by
    retry: an append landing between the base snapshot and the commit
    can add rows matching the merge keys — rows the base-snapshot
    insert-detection never saw. Committing blind would insert a
    duplicate key; the guard retries from fresh state instead."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))

    original_stage = TableLog._stage

    def stage_with_concurrent_append(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        monkeypatch.setattr(TableLog, "_stage", original_stage)
        # a concurrent writer APPENDS the very key our merge is about to
        # classify as unmatched-insert
        TableLog(spark, self.root).write(
            spark.createDataFrame([(3, "appended")], "k long, v string"),
            mode="append",
        )
        return adds

    monkeypatch.setattr(TableLog, "_stage", stage_with_concurrent_append)
    src = spark.createDataFrame([(3, "merged")], "k long, v string")
    log.merge(src, ["k"])
    # exactly ONE row for k=3 and it carries the merge's value: the
    # retry saw the appended file and matched-updated it
    rows = sorted((r.k, r.v) for r in log.read().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "merged")]


def test_delete_retries_over_concurrent_append(spark, tmp_path, monkeypatch):
    """Same hazard for DELETE: rows appended after the base snapshot
    that match the predicate must not survive the delete."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(10).selectExpr("id", "id AS v"))

    original_stage = TableLog._stage

    def stage_with_concurrent_append(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        monkeypatch.setattr(TableLog, "_stage", original_stage)
        TableLog(spark, self.root).write(
            spark.range(3).selectExpr("id", "id AS v"), mode="append"
        )
        return adds

    monkeypatch.setattr(TableLog, "_stage", stage_with_concurrent_append)
    log.delete([("id", "<", 5)])
    assert sorted(r.id for r in log.read().collect()) == [5, 6, 7, 8, 9]


def test_merge_txn_recheck_on_retry_prevents_double_apply(
    spark, tmp_path, monkeypatch
):
    """A replayed microbatch merge racing its own twin (same app_id,
    same transaction version) must not apply twice: the retry loop
    re-checks the idempotent-writer high-water mark before re-applying,
    exactly as write() does."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, 10)], "k long, v long"))
    src = spark.createDataFrame([(1, 11)], "k long, v long")

    original_commit = TableLog._commit
    state = {"fired": False}

    def commit_with_twin(self, version, payload):
        if payload.get("operation") == "merge" and not state["fired"]:
            state["fired"] = True
            # the replayed twin of the SAME logical transaction wins the
            # commit race first
            TableLog(spark, self.root).merge(src, ["k"], txn=("app", 7))
        return original_commit(self, version, payload)

    monkeypatch.setattr(TableLog, "_commit", commit_with_twin)
    res = log.merge(src, ["k"], txn=("app", 7))
    # our merge lost the race, retried, saw the twin's high-water mark,
    # and committed NOTHING — one merge commit total, not two
    assert res["files_rewritten"] == 0 and res["rows_written"] == 0
    assert log.snapshot().version == 2
    assert [(r.k, r.v) for r in log.read().collect()] == [(1, 11)]


def test_partition_spec_evolution_append_read_and_rowops(spark, tmp_path):
    """Iceberg-style partition evolution: an append may opt into a NEW
    partition spec (write(..., evolve_partitioning=True)); files written
    under earlier specs stay active and readable — the spec-safe reader
    groups files by the partition keys their paths encode — and row-level
    ops rewrite touched rows into the CURRENT spec."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, dt string, v long"
        ),
        partition_by=["dt"],
    )
    later = spark.createDataFrame([(3, "c", 30)], "id long, dt string, v long")
    # without the opt-in the layout guard still refuses
    with pytest.raises(ValueError, match="evolve_partitioning"):
        log.write(later, mode="append")
    log.write(later, mode="append", evolve_partitioning=True)
    snap = log.snapshot()
    assert snap.partition_by == []
    # one snapshot, two specs: dir-encoded dt for v1 files, data column
    # for the new file — the read reconstructs both
    assert sorted((r.id, r.dt, r.v) for r in log.read().collect()) == [
        (1, "a", 10),
        (2, "b", 20),
        (3, "c", 30),
    ]
    # stats/partition pruning still works across specs
    assert [r.id for r in log.read(filters=[("dt", "==", "c")]).collect()] == [3]
    # VERSION AS OF the pre-evolution snapshot is unchanged
    assert log.read(1).count() == 2
    # row op spanning both specs: candidates from each layout read,
    # rewritten into the current (unpartitioned) spec
    log.update([("id", "<=", 3)], {"v": "v + 1"})
    assert sorted((r.id, r.dt, r.v) for r in log.read().collect()) == [
        (1, "a", 11),
        (2, "b", 21),
        (3, "c", 31),
    ]
    # evolve BACK to partitioned: spec flips again, all history readable
    log.write(
        spark.createDataFrame([(4, "d", 40)], "id long, dt string, v long"),
        mode="append",
        partition_by=["dt"],
        evolve_partitioning=True,
    )
    assert log.snapshot().partition_by == ["dt"]
    assert log.read().count() == 4
    # the change feed walks the mixed-spec history without conflict
    net = log.table_changes(0, net=True)
    assert net.filter("_change_type = 'insert'").count() >= 4


def test_check_constraints_enforced_on_write_merge_update(spark, tmp_path):
    """Delta-style CHECK constraints: existing data must satisfy a new
    constraint, violating writes/merges/updates abort before committing,
    NULL passes (SQL tri-state), and drop_constraint lifts enforcement."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        ConstraintViolationError,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, 10), (2, None)], "k long, v long"))
    # existing NULL passes; existing data satisfies v > 0
    log.add_constraint("v_positive", "v > 0")
    with pytest.raises(ValueError, match="already exists"):
        log.add_constraint("v_positive", "v > 0")
    # a constraint existing data violates cannot be added
    with pytest.raises(ConstraintViolationError, match="add_constraint"):
        log.add_constraint("v_big", "v > 100")
    # violating append aborts, nothing committed
    v_before = log.snapshot().version
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        log.write(_df(spark, [(3, -5)], "k long, v long"), mode="append")
    assert log.snapshot().version == v_before
    # NULL passes on write too
    log.write(_df(spark, [(3, None)], "k long, v long"), mode="append")
    # violating MERGE aborts
    with pytest.raises(ConstraintViolationError, match="merge"):
        log.merge(_df(spark, [(1, -1)], "k long, v long"), ["k"])
    # violating UPDATE aborts
    with pytest.raises(ConstraintViolationError, match="update"):
        log.update([("k", "==", 1)], {"v": "-9"})
    # valid mutations pass
    log.merge(_df(spark, [(1, 99)], "k long, v long"), ["k"])
    assert {(r.k, r.v) for r in log.read().collect()} == {
        (1, 99),
        (2, None),
        (3, None),
    }
    # constraints survive snapshot replay + checkpoints (metadata commit)
    assert log.snapshot().constraints == {"v_positive": "v > 0"}
    log.drop_constraint("v_positive")
    log.write(_df(spark, [(4, -5)], "k long, v long"), mode="append")
    assert log.read().filter("v = -5").count() == 1


def test_merge_latest_dv_replayed_identical_record_is_stable(spark, tmp_path):
    """A replayed CDC record exactly equal to an alive target row (same
    key, order_col, and every tie column) must net to the unchanged row —
    never a deletion or a duplicate. The dv form evaluates its ranking
    window twice (loser collect + winner stage), so exact ties need a
    deterministic source-vs-target ordering or the two jobs can disagree."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame(
            [(1, "a", 5), (2, "b", 5)], "k long, val string, lsn long"
        ).coalesce(1)
    )
    # replay the SAME record several times — idempotent under at-least-once
    for _ in range(3):
        log.merge_latest(
            spark.createDataFrame([(1, "a", 5)], "k long, val string, lsn long"),
            ["k"],
            "lsn",
            via="dv",
        )
    rows = sorted((r.k, r.val, r.lsn) for r in log.read().collect())
    assert rows == [(1, "a", 5), (2, "b", 5)]
    # a genuinely newer record still wins after the replays
    log.merge_latest(
        spark.createDataFrame([(1, "a2", 6)], "k long, val string, lsn long"),
        ["k"],
        "lsn",
        via="dv",
    )
    rows = sorted((r.k, r.val, r.lsn) for r in log.read().collect())
    assert rows == [(1, "a2", 6), (2, "b", 5)]


def test_write_reenforces_constraint_added_during_staging(
    spark, tmp_path, monkeypatch
):
    """An add_constraint landing between a write's pre-staging validation
    and its commit must not let violating rows through: the new
    constraint's validation scan only saw committed data, so the write's
    retry loop re-enforces against the CURRENT constraint set before
    publishing."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        ConstraintViolationError,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1, 10)], "k long, v long"))

    original_stage = TableLog._stage

    def stage_with_concurrent_constraint(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        monkeypatch.setattr(TableLog, "_stage", original_stage)
        # the concurrent constraint validates against COMMITTED data only
        # (v=10 passes) — it cannot see our staged v=-5 row
        TableLog(spark, self.root).add_constraint("v_positive", "v > 0")
        return adds

    monkeypatch.setattr(TableLog, "_stage", stage_with_concurrent_constraint)
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        log.write(_df(spark, [(2, -5)], "k long, v long"), mode="append")
    assert log.read().count() == 1  # nothing committed

    # the same race with SATISFYING rows commits cleanly on the re-check
    monkeypatch.setattr(TableLog, "_stage", original_stage)
    log.drop_constraint("v_positive")

    def stage_with_ok_constraint(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        monkeypatch.setattr(TableLog, "_stage", original_stage)
        TableLog(spark, self.root).add_constraint("v_positive", "v > 0")
        return adds

    monkeypatch.setattr(TableLog, "_stage", stage_with_ok_constraint)
    log.write(_df(spark, [(3, 30)], "k long, v long"), mode="append")
    assert log.read().count() == 2


def test_remove_orphans_keeps_all_snapshots_readable(spark, tmp_path):
    """remove_orphan_files semantics: files no snapshot references (a
    crashed writer's staged-but-never-committed data) are reclaimed,
    crashed staging dirs are cleared, and — unlike vacuum — EVERY
    version stays readable afterwards."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(_df(spark, [(1,)], ["id"]))
    log.write(_df(spark, [(2,)], ["id"]), mode="append")
    # a crashed writer: files land in data/, no commit ever references them
    log._stage(_df(spark, [(777,)], ["id"]), None)
    # default age guard: nothing young is deleted
    assert log.remove_orphans() == 0
    n = log.remove_orphans(min_age_s=0)
    assert n >= 1
    # both snapshots still read
    assert [r.id for r in log.read(1).collect()] == [1]
    assert sorted(r.id for r in log.read(2).collect()) == [1, 2]
    # and the orphan rows are really gone from disk
    assert log.read().filter("id = 777").count() == 0


def test_describe_history_sql_on_both_backends(spark, tmp_path):
    """`DESCRIBE HISTORY <table>` through Warehouse.sql on both backends:
    one row per version with monotone commit wall-clock; the txlog
    backend reports real operations and file counts."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(_df(spark, [(1,)], ["id"]), "h")
    wh.append(_df(spark, [(2,)], ["id"]), "h")
    hist = wh.sql("DESCRIBE HISTORY h").collect()
    assert [r.version for r in hist] == [1, 2]
    assert [r.operation for r in hist] == ["overwrite", "append"]
    assert hist[0].ts_ms < hist[1].ts_ms
    assert hist[1].n_adds >= 1 and hist[1].n_removes == 0

    base = Warehouse(spark, str(tmp_path / "wh2"))
    base.write_snapshot(_df(spark, [(1,)], ["id"]), "h")
    base.write_snapshot(_df(spark, [(1,), (2,)], ["id"]), "h")
    bh = base.sql("DESCRIBE HISTORY h").collect()
    assert [r.version for r in bh] == [1, 2]
    assert bh[0].ts_ms < bh[1].ts_ms
    with pytest.raises(FileNotFoundError):
        base.sql("DESCRIBE HISTORY nope")


def test_rename_column_without_rewrite(spark, tmp_path):
    """Delta-style column mapping: RENAME COLUMN is a metadata commit —
    no data file is touched — and every read path (scan, filters+
    pruning, row ops, change feed, the pyds DataSource) resolves the
    new logical name against the frozen physical name."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(100).selectExpr("id", "id * 2 AS v").repartitionByRange(4, "id")
    )
    files_before = {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    }
    log.rename_column("v", "val")
    # zero data movement
    assert {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    } == files_before
    # logical schema renamed, values intact
    out = log.read()
    assert out.columns == ["id", "val"]
    assert out.filter("val = 100").count() == 1
    # stats pruning still engages through the rename (footer stats carry
    # the physical name)
    pruned = log.read(filters=[("id", "between", (0, 10))])
    assert len(pruned.inputFiles()) < len(files_before)
    assert pruned.count() == 11
    # appends AFTER the rename write the physical name into new files:
    # all files of the table spell the column identically
    log.write(
        spark.createDataFrame([(1000, 7)], "id long, val long"), mode="append"
    )
    import pyarrow.parquet as pq

    newest = set(log.snapshot().files) - set(files_before)
    phys_names = {
        n
        for p in newest
        for n in pq.ParquetFile(os.path.join(log.data_dir, p)).schema_arrow.names
    }
    assert "v" in phys_names and "val" not in phys_names
    assert log.read().filter("id = 1000").head().val == 7
    # row ops through the mapping
    log.update([("id", "==", 1000)], {"val": "val + 1"})
    assert log.read().filter("id = 1000").head().val == 8
    log.merge(spark.createDataFrame([(1000, 9)], "id long, val long"), ["id"])
    assert log.read().filter("id = 1000").head().val == 9
    log.delete([("id", "==", 1000)])
    assert log.read().filter("id = 1000").count() == 0
    # time travel reads the OLD logical name (the schema of that era)
    assert log.read(1).columns == ["id", "v"]
    # the change feed reports every era under the CURRENT name
    feed = log.table_changes(0)
    assert "val" in feed.columns and "v" not in feed.columns
    assert feed.filter("id = 1000").count() >= 4  # insert,upd pair,merge,del
    # pyds DataSource resolves the mapping too (per-file reader)
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    ds = spark.read.format("txlog").load(str(tmp_path / "t"))
    assert ds.columns == ["id", "val"]
    assert ds.filter("val = 100").count() == 1
    # guardrails
    with pytest.raises(ValueError, match="collides"):
        log.rename_column("id", "v")  # v is a frozen PHYSICAL name
    log.add_constraint("val_even_ok", "val >= 0")
    with pytest.raises(ValueError, match="constraint"):
        log.rename_column("val", "value")
    log.drop_constraint("val_even_ok")
    part = TableLog(spark, str(tmp_path / "p"))
    part.write(
        spark.createDataFrame([(1, "a")], "id long, k string"),
        partition_by=["k"],
    )
    with pytest.raises(ValueError, match="partition"):
        part.rename_column("k", "kk")
    # OPTIMIZE after a rename compacts under the physical name and reads
    # back under the logical one
    log.optimize(n_files=1)
    assert log.read().columns == ["id", "val"]
    assert log.read().count() == 100


def test_drop_and_add_column_without_rewrite(spark, tmp_path):
    """ALTER TABLE DROP/ADD COLUMN as metadata-only commits: no data file
    is touched, a dropped column's dead bytes can never resurrect (fresh
    physical ids on re-add; the write path refuses implicit re-binding),
    and every read path resolves the evolved schema."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(100).selectExpr(
            "id", "id * 2 AS v", "CAST(id AS STRING) AS s"
        ).repartitionByRange(4, "id")
    )
    files_before = {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    }
    v_drop = log.drop_column("v")
    # zero data movement; column gone from the logical schema
    assert {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    } == files_before
    assert log.read().columns == ["id", "s"]
    # time travel to the pre-drop version still reads it
    assert log.read(v_drop - 1).filter("v = 100").count() == 1
    # re-adding the SAME name must NOT resurrect the dead bytes
    log.add_column("v", "bigint")
    assert log.read().columns == ["id", "s", "v"]
    assert log.read().filter("v IS NOT NULL").count() == 0
    # the new column's physical name is a fresh id, never the logical name
    snap = log.snapshot()
    assert snap.column_mapping["v"].startswith("col_")
    assert "v" in snap.dropped_physical
    # appends fill the new column under its fresh physical name
    log.write(
        spark.createDataFrame([(1000, "x", 7)], "id long, s string, v long"),
        mode="append",
    )
    assert log.read().filter("v = 7").count() == 1
    assert log.read().filter("id < 100 AND v IS NOT NULL").count() == 0
    import pyarrow.parquet as pq

    newest = set(log.snapshot().files) - set(files_before)
    phys = {
        n
        for p in newest
        for n in pq.ParquetFile(os.path.join(log.data_dir, p)).schema_arrow.names
    }
    assert snap.column_mapping["v"] in phys and "v" not in phys
    # row ops through the evolved schema
    log.update([("id", "==", 1000)], {"v": "v + 1"})
    assert log.read().filter("id = 1000").head().v == 8
    log.delete([("id", "==", 1000)])
    # change feed spans the drop: era rows carry the old column where it
    # existed (unionByName fills null elsewhere)
    feed = log.table_changes(0)
    # the UPDATE emits precise images (round 11 — derivable CDC, even
    # across the column-mapping era): pre v=7, post v=8; only the final
    # DELETE emits a delete row (v=8)
    dels = feed.filter("id = 1000 AND _change_type = 'delete'")
    assert sorted(r.v for r in dels.collect()) == [8]
    assert [
        r.v
        for r in feed.filter(
            "id = 1000 AND _change_type = 'update_preimage'"
        ).collect()
    ] == [7]
    assert [
        r.v
        for r in feed.filter(
            "id = 1000 AND _change_type = 'update_postimage'"
        ).collect()
    ] == [8]
    # the pyds DataSource resolves the evolved schema too
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    ds = spark.read.format("txlog").load(str(tmp_path / "t"))
    assert ds.columns == ["id", "s", "v"]
    assert ds.filter("v IS NOT NULL").count() == 0


def test_implicit_evolution_cannot_rebind_dropped_or_physical_names(
    spark, tmp_path
):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(10).selectExpr("id", "id AS v", "id AS w"))
    log.drop_column("v")
    # append-time schema evolution refuses to re-bind the dead bytes
    with pytest.raises(ValueError, match="add_column"):
        log.write(
            spark.createDataFrame([(50, 1, 2)], "id long, w long, v long"),
            mode="append",
        )
    # ... and refuses a new column aliasing a live frozen physical name
    log.rename_column("w", "width")
    with pytest.raises(ValueError, match="add_column"):
        log.write(
            spark.createDataFrame([(51, 1, 2)], "id long, width long, w long"),
            mode="append",
        )
    # a full overwrite redefines the table wholesale: tombstones reset
    log.write(spark.range(5).selectExpr("id", "id AS v"))
    assert log.snapshot().dropped_physical == []
    assert log.read().filter("v IS NOT NULL").count() == 5


def test_column_op_guardrails_and_checkpoint_carry(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.createDataFrame([(1, "a", 2)], "id long, k string, v long"),
        partition_by=["k"],
    )
    with pytest.raises(ValueError, match="partition"):
        log.drop_column("k")
    log.add_constraint("v_pos", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        log.drop_column("v")
    log.drop_constraint("v_pos")
    with pytest.raises(ValueError, match="collides"):
        log.add_column("v", "bigint")
    log.drop_column("v")
    log.drop_column("id")
    with pytest.raises(ValueError, match="last column"):
        log.drop_column("k")
    # roll past a checkpoint: tombstones and mapping must survive replay
    # from the checkpoint, not only from full log replay
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        CHECKPOINT_EVERY,
    )

    log.add_column("v", "bigint")
    while log.snapshot().version % CHECKPOINT_EVERY:
        log.write(
            spark.createDataFrame([(("a"), 1)], "k string, v long"),
            mode="append",
            partition_by=["k"],
        )
    assert os.path.exists(log._checkpoint_path(log.snapshot().version))
    snap = log.snapshot()
    assert "v" in snap.dropped_physical and "id" in snap.dropped_physical
    assert snap.column_mapping["v"].startswith("col_")
    with pytest.raises(ValueError, match="add_column"):
        log.write(
            spark.createDataFrame([("a", 1, 9)], "k string, v long, id long"),
            mode="append",
            partition_by=["k"],
        )


def test_rowop_retries_over_concurrent_column_drop(spark, tmp_path, monkeypatch):
    """A concurrent DROP COLUMN between a row op's base snapshot and its
    commit must not republish the pre-drop schema."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog as TL,
    )

    log = TL(spark, str(tmp_path / "t"))
    log.write(spark.range(10).selectExpr("id", "id AS v", "id AS w"))

    original_stage = TL._stage

    def stage_with_concurrent_drop(self, df, partition_by, mapping=None, **kw):
        adds = original_stage(self, df, partition_by, mapping=mapping, **kw)
        monkeypatch.setattr(TL, "_stage", original_stage)
        TL(spark, self.root).drop_column("w")
        return adds

    monkeypatch.setattr(TL, "_stage", stage_with_concurrent_drop)
    log.delete([("id", "==", 3)])
    # the winning schema (post-drop) survived the row op's retry
    assert log.read().columns == ["id", "v"]
    assert log.read().filter("id = 3").count() == 0


def test_alter_table_column_ddl_sql_on_both_backends(spark, tmp_path):
    """ALTER TABLE … RENAME/ADD/DROP COLUMN through Warehouse.sql: the
    txlog backend commits metadata only (zero file rewrites); the base
    backend writes the next copy-per-version snapshot with the evolved
    schema. Both keep VERSION AS OF working across the change."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    for wh in (
        TxLogWarehouse(spark, str(tmp_path / "wh")),
        Warehouse(spark, str(tmp_path / "wh2")),
    ):
        wh.write_snapshot(_df(spark, [(1, 10), (2, 20)], ["id", "v"]), "t")
        r = wh.sql("ALTER TABLE t RENAME COLUMN v TO val").head()
        assert r.operation == "RENAME COLUMN" and r.version == 2
        assert wh.sql("SELECT id, val FROM t ORDER BY id").count() == 2
        wh.sql("ALTER TABLE t ADD COLUMN score double")
        out = wh.sql("SELECT * FROM t ORDER BY id")
        assert out.columns == ["id", "val", "score"]
        assert out.filter("score IS NOT NULL").count() == 0
        wh.sql("ALTER TABLE t DROP COLUMN val")
        assert wh.sql("SELECT * FROM t").columns == ["id", "score"]
        # time travel reads each era's own schema
        assert wh.sql("SELECT * FROM t VERSION AS OF 1").columns == ["id", "v"]
        with pytest.raises(ValueError):
            wh.sql("ALTER TABLE t DROP COLUMN nope")
        # multi-column ADD COLUMNS adds EVERY listed column (not just the
        # first with the rest swallowed into its dtype); parenthesized
        # dtypes keep their own commas
        wh.sql("ALTER TABLE t ADD COLUMNS (a INT, b STRING, c DECIMAL(10,2))")
        assert wh.sql("SELECT * FROM t").columns == [
            "id", "score", "a", "b", "c",
        ]
        with pytest.raises(ValueError, match="ADD COLUMNS"):
            wh.sql("ALTER TABLE t ADD COLUMNS (d INT, nodtype)")
        # the bad spec aborted BEFORE adding d — never half-applied
        assert "d" not in wh.sql("SELECT * FROM t").columns

    # txlog backend: all three were metadata-only (1 data file, ever)
    log = TxLogWarehouse(spark, str(tmp_path / "wh"))._log("t")
    assert len(os.listdir(log.data_dir)) == len(log.snapshot().files)
    # base backend: a partitioned snapshot keeps its layout through ALTER
    base = Warehouse(spark, str(tmp_path / "wh2"))
    base.write_snapshot(
        _df(spark, [(1, "a"), (2, "b")], ["id", "k"]), "p", partition_by=["k"]
    )
    base.sql("ALTER TABLE p ADD COLUMN w long")
    assert base._snapshot_partition_by("p", 2) == ["k"]
    assert set(base.read_snapshot("p").columns) == {"id", "k", "w"}
    with pytest.raises(ValueError, match="partition"):
        base.sql("ALTER TABLE p RENAME COLUMN k TO kk")


def test_restore_table_to_version(spark, tmp_path):
    """RESTORE TABLE … TO VERSION AS OF: a NEW commit with the target
    version's full state — metadata-only on txlog (files shared, nothing
    rewritten), snapshot-copy on the base backend; history auditable."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(10).selectExpr("id", "id AS v"))      # v1
    log.rename_column("v", "val")                               # v2
    log.write(spark.range(5).selectExpr("id", "id AS junk"))    # v3 bad overwrite
    n_files = len(os.listdir(log.data_dir))
    v = log.restore(1)
    assert v == 4
    assert len(os.listdir(log.data_dir)) == n_files  # no data movement
    out = log.read()
    assert out.columns == ["id", "v"] and out.count() == 10
    # full state restored: mapping era of v1 (identity), and the bad
    # overwrite remains auditable history
    assert log.snapshot().column_mapping == {}
    assert [h["operation"] for h in log.history()][-1] == "restore"
    assert log.read(3).columns == ["id", "junk"]
    # the change feed reports the restore as its true diff
    feed = log.table_changes(3)
    assert feed.filter("_change_type = 'insert'").count() == 10
    assert feed.filter("_change_type = 'delete'").count() == 5
    # restoring past a vacuum horizon refuses
    log.vacuum(retain_last=1, min_file_age_s=0.0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        log.restore(3)

    # SQL on both backends
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    base = Warehouse(spark, str(tmp_path / "wh2"))
    for w in (wh, base):
        w.write_snapshot(_df(spark, [(1,)], ["id"]), "r")
        w.write_snapshot(_df(spark, [(1,), (2,)], ["id"]), "r")
        row = w.sql("RESTORE TABLE r TO VERSION AS OF 1").head()
        assert row.operation == "RESTORE" and row.version == 3
        assert w.sql("SELECT * FROM r").count() == 1
        assert w.sql("SELECT * FROM r VERSION AS OF 2").count() == 2


def test_maintenance_sql_verbs_on_both_backends(spark, tmp_path):
    """DESCRIBE DETAIL / OPTIMIZE [ZORDER BY] / VACUUM through
    Warehouse.sql on both backends."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    for wh in (
        TxLogWarehouse(spark, str(tmp_path / "wh")),
        Warehouse(spark, str(tmp_path / "wh2")),
    ):
        wh.write_snapshot(
            spark.range(100).selectExpr("id", "id % 7 AS x", "id % 5 AS y")
            .repartition(8), "t",
        )
        if isinstance(wh, TxLogWarehouse):
            wh.append(
                spark.range(100, 120)
                .selectExpr("id", "id % 7 AS x", "id % 5 AS y")
                .repartition(4),
                "t",
            )
        else:
            wh.write_snapshot(
                spark.range(120)
                .selectExpr("id", "id % 7 AS x", "id % 5 AS y")
                .repartition(12),
                "t",
            )
        d = wh.sql("DESCRIBE DETAIL t").head()
        assert d.num_files >= 12 and d.size_bytes > 0
        assert d.version == 2 and d.num_versions == 2
        assert d.partition_columns == []
        r = wh.sql("OPTIMIZE t ZORDER BY (x, y)").head()
        assert r.operation == "OPTIMIZE" and r.version == 3
        d2 = wh.sql("DESCRIBE DETAIL t").head()
        assert d2.num_files == 1 and d2.version == 3
        assert wh.sql("SELECT * FROM t").count() == 120
        v = wh.sql("VACUUM t RETAIN 1 VERSIONS").head()
        assert v.operation == "VACUUM"
        if not isinstance(wh, TxLogWarehouse):
            # base backend reclaims version DIRS immediately (2 of 3)
            assert v.removed == 2
            with pytest.raises(Exception):
                wh.read_snapshot("t", 1)
        else:
            # txlog's age guard protects young files (removed == 0 here);
            # the API-level vacuum horizon behavior is covered in the
            # dedicated vacuum tests
            assert v.removed == 0
        assert wh.sql("SELECT * FROM t").count() == 120


def test_threaded_multi_writer_stress_serializes_all_commits(spark, tmp_path):
    """Real concurrency (not injected): threads race appends and a merge
    against one table, each with enough retries to outlast the others.
    The final log must be a contiguous version chain whose parent ids
    link up, and the surviving rows must be exactly the base rows as
    modified by the merge plus every append exactly once — no lost
    updates, no duplicated appends. (DDL-vs-write races are covered by
    the injected-race tests above; mixing DDL into a live thread race
    is nondeterministic by design — stale-name writers are SUPPOSED to
    be refused.)"""
    import threading

    root = str(tmp_path / "t")
    TableLog(spark, root).write(
        spark.createDataFrame([(i, 0) for i in range(8)], "id long, v long")
    )
    failures: list[Exception] = []

    def run(fn):
        def go():
            try:
                fn()
            except Exception as e:  # record ANY failure for the assert
                failures.append(e)

        return threading.Thread(target=go)

    log = lambda: TableLog(spark, root)
    threads = [
        run(lambda i=i: log().write(
            spark.createDataFrame([(100 * i, i)], "id long, v long"),
            mode="append", max_retries=16))
        for i in range(1, 5)
    ] + [
        run(lambda: log().merge(
            spark.createDataFrame([(0, 50)], "id long, v long"),
            ["id"], max_retries=16))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not failures, [str(e) for e in failures]

    lg = log()
    versions = lg.versions()
    assert versions == list(range(1, len(versions) + 1))
    import json as _json

    prev = None
    for v in versions:
        with open(lg._commit_path(v)) as f:
            c = _json.load(f)
        if prev is not None:
            assert c["parent_id"] == prev
        prev = c["snapshot_id"]
    rows = {r.id: r.v for r in lg.read().collect()}
    expect = {i: 0 for i in range(8)} | {0: 50} | {100 * i: i for i in range(1, 5)}
    assert rows == expect
    assert lg.read().count() == 12  # exactly once each


def test_deletion_vector_delete_is_metadata_only(spark, tmp_path):
    """delete(via='dv'): merge-on-read row deletes — no file is touched,
    readers anti-filter the committed positions, OPTIMIZE materializes
    them, and every surface (scan, filters, time travel, CDC, pyds,
    CoW ops on dv'd files) agrees."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(100).selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, "id")
    )
    files_before = {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    }
    res = log.delete([("id", "between", (10, 19))], via="dv")
    assert res["rows_deleted"] == 10 and res["files_rewritten"] == 0
    # zero data movement; files identical
    assert {
        p: os.path.getmtime(os.path.join(log.data_dir, p))
        for p in log.snapshot().files
    } == files_before
    assert set(log.snapshot().files) == set(files_before)
    out = log.read()
    assert out.count() == 90
    assert out.filter("id between 10 and 19").count() == 0
    # stats-pruned filtered reads still correct
    assert log.read(filters=[("id", "<", 30)]).count() == 20
    # time travel reads the pre-delete rows
    assert log.read(1).count() == 100
    # idempotent: re-running the same dv delete deletes nothing new
    res2 = log.delete([("id", "between", (10, 19))], via="dv")
    assert res2["rows_deleted"] == 0
    assert log.read().count() == 90
    # a second dv delete on ANOTHER range merges vectors
    log.delete([("id", "==", 50)], via="dv")
    assert log.read().count() == 89
    # CDC reports exactly the dv-deleted rows as deletes
    feed = log.table_changes(1)
    dels = feed.filter("_change_type = 'delete'")
    assert dels.count() == 11
    assert {r.id for r in dels.collect()} == set(range(10, 20)) | {50}
    # pyds reader applies the vectors
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    ds = spark.read.format("txlog").load(str(tmp_path / "t"))
    assert ds.count() == 89
    assert ds.filter("id between 10 and 19").count() == 0
    # versionAsOf through pyds still pre-delete
    assert (
        spark.read.format("txlog")
        .option("versionAsOf", 1)
        .load(str(tmp_path / "t"))
        .count()
        == 100
    )
    # a CoW UPDATE on a dv'd file folds the vector in (deleted rows do
    # NOT resurrect) and purges it for the rewritten file
    log.update([("id", "==", 15)], {"v": "999"})  # 15 is dv-deleted
    assert log.read().count() == 89
    assert log.read().filter("v = 999").count() == 0  # row was dead
    # OPTIMIZE materializes all vectors
    v = log.optimize(n_files=2)
    snap = log.snapshot()
    assert snap.dvs == {}
    assert log.read().count() == 89
    assert log.read(v).filter("id between 10 and 19").count() == 0


def test_deletion_vector_interactions(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(40).selectExpr("id", "id AS v").repartitionByRange(2, "id")
    )
    log.delete([("id", "<", 5)], via="dv")
    # merge against a dv'd file: dead rows are invisible to matching —
    # merging key 3 INSERTS a fresh row (the dv'd one stays dead)
    log.merge(spark.createDataFrame([(3, 333)], "id long, v long"), ["id"])
    got = log.read().filter("id = 3").collect()
    assert len(got) == 1 and got[0].v == 333
    # the merge rewrote the candidate file -> its vector purged by replay
    assert all("part" not in k or True for k in log.snapshot().dvs)  # sanity
    assert log.read().count() == 36  # 40 - 5 dv'd + 1 re-insert
    # restore back across the dv commit reproduces the dv'd state
    v_dv = 2
    log.restore(v_dv)
    assert log.read().count() == 35
    assert log.snapshot().dvs != {}
    # append after restore: new rows unaffected by vectors
    log.write(spark.createDataFrame([(100, 1)], "id long, v long"), mode="append")
    assert log.read().count() == 36
    # vacuum keeps dv'd files (they are active)
    assert log.read().count() == 36
    # constraint enforcement composes: dv-deleted rows can't violate
    log.add_constraint("v_small", "v < 1000")
    log.drop_constraint("v_small")
    # column rename composes with vectors
    log.rename_column("v", "val")
    assert log.read().filter("val = 1").count() >= 1
    assert log.read().count() == 36
    # dv delete THROUGH the mapping (filter on the logical name)
    res = log.delete([("val", "==", 1)], via="dv")
    assert res["rows_deleted"] >= 1


def test_deletion_vector_stream_gate_and_net_cdc(spark, tmp_path):
    """A delete_dv commit must fail a running stream (rows it emitted may
    be gone) unless ignoreChanges; net CDC collapses dv deletes."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    root = str(tmp_path / "t")
    register_txlog(spark)
    log = TableLog(spark, root)
    log.write(spark.range(10).selectExpr("id", "id AS v"))
    log.delete([("id", "==", 3)], via="dv")

    def drain(sub, opts=None):
        s = spark.readStream.format("txlog")
        for k, val in (opts or {}).items():
            s = s.option(k, val)
        q = (
            s.load(root)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"o-{sub}"))
            .option("checkpointLocation", str(tmp_path / f"c-{sub}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="delete_dv|ignoreChanges"):
        drain("strict")
    drain("loose", {"ignoreChanges": "true"})
    assert spark.read.parquet(str(tmp_path / "o-loose")).count() == 10
    # net CDC over the whole window: 10 inserts, 1 delete -> net 9 inserts
    net = log.table_changes(0, net=True)
    assert net.filter("_change_type = 'insert'").count() == 10
    assert net.filter("_change_type = 'delete'").count() == 1


def test_deletion_vector_update(spark, tmp_path):
    """update(via='dv'): matched rows join the deletion vectors and only
    their UPDATED versions append — no host-file rewrite. CDC reports
    the old versions as deletes (positions) and the new as inserts."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(100).selectExpr("id", "id AS v").repartitionByRange(4, "id")
    )
    files_before = set(log.snapshot().files)
    res = log.update([("id", "between", (10, 12))], {"v": "v + 1000"}, via="dv")
    assert res["rows_updated"] == 3 and res["files_rewritten"] == 0
    snap = log.snapshot()
    # original files untouched and still active; ONE tiny file appended
    assert files_before <= set(snap.files)
    assert len(snap.files) > len(files_before)
    assert sum(len(v) for v in snap.dvs.values()) == 3
    out = log.read()
    assert out.count() == 100
    assert {r.v for r in out.filter("id between 10 and 12").collect()} == {
        1010, 1011, 1012
    }
    # time travel pre-update
    assert log.read(1).filter("v between 1000 and 2000").count() == 0
    # CDC: an update_dv's masked rows ARE update pre-images and its
    # appended rows the post-images (round 11 — Delta CDF parity)
    feed = log.table_changes(1)
    assert feed.filter("_change_type = 'update_preimage'").count() == 3
    ins = feed.filter("_change_type = 'update_postimage'")
    assert {r.v for r in ins.collect()} == {1010, 1011, 1012}
    # net CDC agrees
    net = log.table_changes(1, net=True)
    assert net.filter("_change_type = 'delete'").count() == 3
    assert net.filter("_change_type = 'insert'").count() == 3
    # chained dv ops compose: dv-delete one of the UPDATED rows (it
    # lives in the appended file)
    log.delete([("v", "==", 1011)], via="dv")
    assert log.read().count() == 99
    # pyds agrees end to end
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    ds = spark.read.format("txlog").load(str(tmp_path / "t"))
    assert ds.count() == 99
    assert {r.v for r in ds.filter("id between 10 and 12").collect()} == {
        1010, 1012
    }
    # constraints enforce on the updated values
    log.add_constraint("v_cap", "v < 5000")
    with pytest.raises(Exception, match="v_cap"):
        log.update([("id", "==", 5)], {"v": "9999"}, via="dv")
    assert log.read().filter("v = 9999").count() == 0
    # OPTIMIZE materializes everything
    log.drop_constraint("v_cap")
    log.optimize(n_files=1)
    assert log.snapshot().dvs == {}
    assert log.read().count() == 99


def test_deletion_vector_merge(spark, tmp_path):
    """merge(via='dv'): matched alive target rows join the vectors and
    only the source-derived rows append — bit-equal logical state to the
    copy-on-write merge, without rewriting host files."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(100).selectExpr("id", "id AS v", "CAST(0 AS INT) AS del")
        .repartitionByRange(4, "id")
    )
    files_before = set(log.snapshot().files)
    src = spark.createDataFrame(
        [(5, 500, 0), (200, 2000, 0), (7, 0, 1), (300, 3000, 1)],
        "id long, v long, del int",
    )
    res = log.merge(src, ["id"], delete_condition="del = 1", via="dv")
    assert res["files_rewritten"] == 0
    snap = log.snapshot()
    assert files_before <= set(snap.files)
    # matched update (5), matched delete (7): two positions dv'd
    assert sum(len(v) for v in snap.dvs.values()) == 2
    out = log.read()
    # 100 - 1 (deleted 7) + 1 (insert 200) + 1 (unmatched delete 300
    # falls through to INSERT, SQL MERGE rule)
    assert out.count() == 101
    rows = {r.id: r.v for r in out.collect()}
    assert rows[5] == 500 and rows[200] == 2000 and rows[300] == 3000
    assert 7 not in rows
    # equivalence with the CoW merge on a twin table
    twin = TableLog(spark, str(tmp_path / "twin"))
    twin.write(
        spark.range(100).selectExpr("id", "id AS v", "CAST(0 AS INT) AS del")
        .repartitionByRange(4, "id")
    )
    twin.merge(src, ["id"], delete_condition="del = 1")
    assert {(r.id, r.v) for r in twin.read().collect()} == {
        (r.id, r.v) for r in out.collect()
    }
    # CDC (round 11 — update images): the matched UPDATE row emits as a
    # pre/post pair, the matched DELETE row as a delete, the fresh keys
    # as inserts
    feed = log.table_changes(1)
    by_type = {
        t: {r.id for r in feed.filter(f"_change_type = '{t}'").collect()}
        for t in (
            "delete", "insert", "update_preimage", "update_postimage",
        )
    }
    assert by_type["update_preimage"] == {5}
    assert by_type["update_postimage"] == {5}
    assert by_type["delete"] == {7}
    assert by_type["insert"] == {200, 300}
    # idempotent-writer token works in dv mode
    res2 = log.merge(src, ["id"], delete_condition="del = 1",
                     via="dv", txn=("app", 1))
    res3 = log.merge(src, ["id"], delete_condition="del = 1",
                     via="dv", txn=("app", 1))
    assert res3["rows_written"] == 0 and res3["version"] == res2["version"]


def test_cdc_apply_in_dv_mode_matches_cow_and_never_rewrites(spark, tmp_path):
    """apply_changes_batch(via='dv'): the CDC landing table accumulates
    appended change files + deletion vectors — bit-identical live view
    to the copy-on-write apply, zero host-file rewrites between
    OPTIMIZE passes, exactly-once under the same txn token."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming import (
        apply_changes_batch,
    )

    changes = [
        (1, "a1", 1, False),
        (2, "b1", 2, False),
        (1, "a2", 3, False),
        (3, "c1", 4, False),
        (2, None, 5, True),
        (9, None, 6, True),
        (4, "d1", 7, False),
    ]
    schema = "k long, val string, lsn long, deleted boolean"
    slices = [changes[:3], changes[3:5], changes[5:]]

    results = {}
    for via in ("cow", "dv"):
        root = str(tmp_path / via)
        file_sets = []
        for i, sl in enumerate(slices):
            apply_changes_batch(
                spark,
                spark.createDataFrame(sl, schema),
                root,
                ["k"],
                "lsn",
                delete_col="deleted",
                txn=("app", i),
                via=via,
            )
            file_sets.append(set(TableLog(spark, root).snapshot().files))
        results[via] = sorted(
            map(tuple, TableLog(spark, root).read().select("k", "val", "lsn").collect())
        )
        if via == "dv":
            # dv mode: the active file set only GROWS (no rewrites)
            assert file_sets[0] <= file_sets[1] <= file_sets[2]
            # replayed microbatch is a no-op in dv mode too
            log = TableLog(spark, root)
            v = log.versions()[-1]
            apply_changes_batch(
                spark,
                spark.createDataFrame(slices[-1], schema),
                root,
                ["k"],
                "lsn",
                delete_col="deleted",
                txn=("app", 2),
                via="dv",
            )
            assert log.versions()[-1] == v
            # OPTIMIZE compacts the accumulated change files + vectors
            log.optimize(n_files=1)
            assert log.snapshot().dvs == {}
    assert results["cow"] == results["dv"] == [
        (1, "a2", 3),
        (3, "c1", 4),
        (4, "d1", 7),
    ]


def test_describe_detail_reports_deletion_vectors(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.range(50).selectExpr("id", "id AS v"), "t")
    wh.delete("t", [("id", "<", 3)], via="dv")
    d = wh.sql("DESCRIBE DETAIL t").head()
    assert d.num_dv_files >= 1 and d.dv_positions == 3
    wh.optimize_table("t")
    d2 = wh.sql("DESCRIBE DETAIL t").head()
    assert d2.num_dv_files == 0 and d2.dv_positions == 0


def test_dv_free_tables_keep_plain_scan_plans(spark, tmp_path):
    """The DV machinery must cost nothing when no vectors exist: a clean
    table's read plan contains no join and no _metadata projection; only
    dv'd FILES take the anti-join path, clean files in the same table
    keep the plain scan branch."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(100).selectExpr("id", "id AS v").repartitionByRange(4, "id"))
    plan = log.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "__dv" not in plan
    # dv one narrow range: only its host file(s) pay the join
    log.delete([("id", "==", 7)], via="dv")
    plan2 = log.read()._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2 and "__dv" in plan2
    n_dv = len(log.snapshot().dvs)
    assert n_dv < len(log.snapshot().files)
    # the union has a plain branch for the clean files
    assert "Union" in plan2


def test_describe_files_metadata_relation(spark, tmp_path):
    """DESCRIBE FILES: the table.files metadata relation on both
    backends — file inventory with stats and dv counts, driver-side log
    metadata only."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.range(100).selectExpr("id", "id % 2 AS k").repartition(4), "t"
    )
    wh.delete("t", [("id", "==", 5)], via="dv")
    f = wh.sql("DESCRIBE FILES t")
    rows = f.collect()
    assert len(rows) == 4
    assert sum(r.rows for r in rows) == 100
    assert all(r.bytes > 0 for r in rows)
    assert sum(r.dv_positions for r in rows) == 1
    # footer stats surfaced (min/max of id across files covers 0..99)
    assert min(int(r.min_values["id"]) for r in rows) == 0
    assert max(int(r.max_values["id"]) for r in rows) == 99

    base = Warehouse(spark, str(tmp_path / "wh2"))
    base.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"]),
        "p",
        partition_by=["k"],
    )
    rows = base.sql("DESCRIBE FILES p").collect()
    assert len(rows) >= 2
    assert {r.partition_values.get("k") for r in rows} == {"a", "b"}


def test_maintain_policy_janitor(spark, tmp_path):
    """maintain(): metadata-only policy decides when to compact (small
    files or dv density), optionally vacuums, always reclaims orphans —
    idempotent, safe to schedule."""
    log = TableLog(spark, str(tmp_path / "t"))
    for i in range(6):
        log.write(
            spark.range(i * 10, (i + 1) * 10).selectExpr("id", "id AS v"),
            mode="append",
        )
    # six tiny files exceed max_small_files=4 -> compacts
    res = log.maintain(target_file_bytes=10_000_000, max_small_files=4,
                       min_file_age_s=0.0)
    assert res["optimized"] is not None
    assert len(log.snapshot().files) == 1
    assert log.read().count() == 60
    # second run is a no-op (one file, no dvs)
    res2 = log.maintain(target_file_bytes=10_000_000, max_small_files=4,
                        min_file_age_s=0.0)
    assert res2["optimized"] is None and res2["orphans_deleted"] == 0
    # dv density trigger: delete >10% of rows via vectors — round 12:
    # the janitor answers with the SCOPED purge, not a whole-table
    # compaction
    log.delete([("id", "<", 7)], via="dv")
    assert log.snapshot().dvs
    res3 = log.maintain(target_file_bytes=10_000_000, max_small_files=99,
                        max_dv_ratio=0.1, min_file_age_s=0.0)
    assert res3["optimized"] is None and res3["purged"] is not None
    assert log.snapshot().dvs == {}
    assert log.read().count() == 53
    # vacuum only when asked
    res4 = log.maintain(retain_last=1, min_file_age_s=0.0)
    assert res4["files_deleted"] > 0
    with pytest.raises(FileNotFoundError):
        log.read(1)


def test_merge_latest_dv_matches_cow_under_arbitrary_slicing(spark, tmp_path):
    """merge_latest(via='dv'): losing target rows join the vectors,
    winning SOURCE records append — bit-identical table content to the
    copy-on-write form under ANY slicing of an out-of-order change set,
    with zero host rewrites."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming import (
        apply_changes_batch,
    )

    # out-of-order change set: late batches carry OLD changes
    changes = [
        (1, "a3", 30, False),
        (2, "b1", 10, False),
        (1, "a1", 5, False),    # stale update, must lose
        (2, None, 40, True),    # delete (tombstone)
        (2, "b0", 20, False),   # stale vs the delete, must NOT resurrect
        (3, "c1", 15, False),
    ]
    schema = "k long, val string, lsn long, deleted boolean"
    slicings = [
        [changes[:2], changes[2:4], changes[4:]],
        [changes[:4], changes[4:]],
        [[c] for c in changes],
    ]
    results = {}
    for via in ("cow", "dv"):
        for si, slices in enumerate(slicings):
            root = str(tmp_path / f"{via}_{si}")
            sizes = []
            for i, sl in enumerate(slices):
                apply_changes_batch(
                    spark,
                    spark.createDataFrame(sl, schema),
                    root,
                    ["k"],
                    "lsn",
                    delete_col="deleted",
                    txn=("app", i),
                    out_of_order=True,
                    via=via,
                )
                sizes.append(len(TableLog(spark, root).snapshot().files))
            log = TableLog(spark, root)
            full = sorted(map(tuple, log.read().collect()))
            live = sorted(
                map(tuple, log.read().filter("NOT deleted").collect())
            )
            results[(via, si)] = (full, live)
            if via == "dv" and si == 0:
                # after the first batch created the table, later dv
                # applies never rewrite: counts only grow by appends
                assert sizes == sorted(sizes)
    expect_live = [(1, "a3", 30, False), (3, "c1", 15, False)]
    for (via, si), (full, live) in results.items():
        assert live == expect_live, (via, si, live)
        assert full == results[("cow", 0)][0], (via, si, full)
    # CDC on the dv apply shows the losing rows as deletes
    log = TableLog(spark, str(tmp_path / "dv_0"))
    feed = log.table_changes(1)
    assert feed.filter("_change_type = 'delete'").count() > 0


def test_sql_dml_delete_and_update(spark, tmp_path):
    """DELETE FROM / UPDATE … SET … WHERE through Warehouse.sql on the
    txlog backend: the narrow AND-conjunction WHERE maps 1:1 onto the
    stats-pruned row ops; richer predicates are refused loudly."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.range(100).selectExpr(
            "id", "id AS v", "CAST(id % 2 = 0 AS BOOLEAN) AS even"
        ),
        "t",
    )
    r = wh.sql("DELETE FROM t WHERE id BETWEEN 10 AND 19 AND even = TRUE").head()
    assert r.operation == "DELETE" and r.rows == 5
    assert wh.sql("SELECT count(*) AS n FROM t").head().n == 95
    r = wh.sql("UPDATE t SET v = v * 10, even = NOT even WHERE id = 3").head()
    assert r.operation == "UPDATE" and r.rows == 1
    row = wh.sql("SELECT * FROM t WHERE id = 3").head()
    assert row.v == 30 and row.even is True
    # TRUE/FALSE as bare values (Spark's parser shares those literals)
    wh.sql("UPDATE t SET even = FALSE WHERE id = 3 AND even = TRUE")
    assert wh.sql("SELECT even FROM t WHERE id = 3").head().even is False
    # OR predicates are supported since round 8 (DNF file pruning —
    # tests/test_round8.py); functions/subqueries still refuse loudly
    with pytest.raises(ValueError, match="cannot parse WHERE term"):
        wh.sql("DELETE FROM t WHERE lower(name) = 'x'")
    base = Warehouse(spark, str(tmp_path / "wh2"))
    base.write_snapshot(_df(spark, [(1,)], ["id"]), "t")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql("DELETE FROM t WHERE id = 1")


def test_threaded_stress_with_deletion_vector_ops(spark, tmp_path):
    """Real-thread race of appends, a dv delete, and a dv update: every
    op commits exactly once (retries absorb version races), the chain
    stays contiguous, and the final rows equal the serial expectation —
    dv ops never publish positions computed against a stale base."""
    import threading

    root = str(tmp_path / "t")
    TableLog(spark, root).write(
        spark.createDataFrame([(i, 0) for i in range(10)], "id long, v long")
    )
    failures: list[Exception] = []

    def run(fn):
        def go():
            try:
                fn()
            except Exception as e:
                failures.append(e)

        return threading.Thread(target=go)

    log = lambda: TableLog(spark, root)
    threads = [
        run(lambda i=i: log().write(
            spark.createDataFrame([(100 * i, i)], "id long, v long"),
            mode="append", max_retries=16))
        for i in (1, 2)
    ] + [
        run(lambda: log().delete([("id", "==", 3)], via="dv", max_retries=16)),
        run(lambda: log().update([("id", "==", 5)], {"v": "55"},
                                 via="dv", max_retries=16)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not failures, [str(e) for e in failures]
    lg = log()
    assert lg.versions() == list(range(1, len(lg.versions()) + 1))
    rows = {r.id: r.v for r in lg.read().collect()}
    expect = {i: 0 for i in range(10) if i != 3} | {5: 55, 100: 1, 200: 2}
    assert rows == expect


def test_table_changes_sql_tvf(spark, tmp_path):
    """Delta's CDF TVF surface: SELECT … FROM table_changes('t', from
    [, to]) through Warehouse.sql — quoted and bare-identifier forms,
    bounded windows, string-literal immunity, and the loud refusal on
    the snapshot-dir backend (no commit-level feed there)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, 10), (2, 20)], ["k", "v"]), "t")      # v1
    wh.append(_df(spark, [(3, 30)], ["k", "v"]), "t")              # v2
    wh.delete("t", [("k", "==", 1)])                               # v3

    got = {
        (r._change_type, r.k)
        for r in wh.sql(
            "SELECT _change_type, k FROM table_changes('t', 1)"
        ).collect()
    }
    assert got == {("insert", 3), ("delete", 1)}
    # bounded window + bare identifier form; composes with GROUP BY
    assert (
        wh.sql(
            "SELECT count(*) AS n FROM table_changes(t, 1, 2)"
        ).head().n
        == 1
    )
    # the TVF text inside a string literal is data, not a call
    row = wh.sql("SELECT 'table_changes(''t'', 1)' AS s").head()
    assert row.s == "table_changes('t', 1)"
    # joins against live tables work (view + table registration coexist)
    j = wh.sql(
        "SELECT c._change_type, t.v FROM table_changes('t', 2) c "
        "JOIN t ON t.k = c.k + 1"
    ).collect()
    assert {(r._change_type, r.v) for r in j} == {("delete", 20)}

    base = Warehouse(spark, str(tmp_path / "base"))
    base.write_snapshot(_df(spark, [(1,)], ["k"]), "b")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql("SELECT * FROM table_changes('b', 0)")


def test_merge_into_sql_verb(spark, tmp_path):
    """MERGE INTO … USING … ON … WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT * through Warehouse.sql — the Delta upsert-by-key
    shape, plus the optional WHEN MATCHED AND <cond> THEN DELETE branch;
    richer grammars and the snapshot-dir backend refuse loudly."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write(_df(spark, [(1, "a"), (2, "b")], ["k", "val"]), "t")
    spark.createDataFrame(
        [(2, "b2"), (3, "c")], "k long, val string"
    ).createOrReplaceTempView("chg")

    r = wh.sql(
        "MERGE INTO t USING chg ON t.k = chg.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).head()
    assert r.operation == "MERGE"
    assert {(x.k, x.val) for x in wh.read("t").collect()} == {
        (1, "a"), (2, "b2"), (3, "c"),
    }

    # tombstone branch: matched-and-flagged rows delete; aliases accepted
    spark.createDataFrame(
        [(1, "x", True), (3, "c3", False), (9, "i", True)],
        "k long, val string, dead boolean",
    ).createOrReplaceTempView("chg2")
    wh2 = TxLogWarehouse(spark, str(tmp_path / "wh2"))
    wh2.write(
        _df(spark, [(1, "a", False), (3, "c", False)], ["k", "val", "dead"]),
        "t",
    )
    wh2.sql(
        "MERGE INTO t AS tgt USING chg2 AS s ON tgt.k = s.k "
        "WHEN MATCHED AND s.dead THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # k=1 deleted; k=3 updated; k=9's delete-flag row is unmatched and
    # falls through to INSERT (SQL MERGE semantics, same as merge())
    got = {(x.k, x.val) for x in wh2.read("t").collect()}
    assert got == {(3, "c3"), (9, "i")}

    with pytest.raises(ValueError, match="equality"):
        wh.sql(
            "MERGE INTO t USING chg ON (t.k = chg.k OR t.k = 0) "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    base = Warehouse(spark, str(tmp_path / "base"))
    base.write_snapshot(_df(spark, [(1,)], ["k"]), "t")
    with pytest.raises(ValueError, match="txlog backend"):
        base.sql(
            "MERGE INTO t USING chg ON t.k = chg.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_alter_column_type_widening(spark, tmp_path):
    """Round 9 (verdict task 7): metadata-only type widening per the
    Iceberg promotion rules — int→bigint / float→double / decimal(p,s)→
    decimal(p+,s) — with zero file rewrites; old snapshots still read
    the old type exactly; narrowing and bucket columns refuse."""
    from pyspark.sql import functions as F

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, float(i) / 2, i * 10) for i in range(20)],
        "k int, f float, v long",
    )
    log.write(df)
    n_files_before = len(log.snapshot().files)
    v2 = log.alter_column_type("k", "bigint")
    v3 = log.alter_column_type("f", "double")
    # metadata-only: same physical files, widened logical schema
    assert len(log.snapshot().files) == n_files_before
    assert set(log.snapshot().files) == set(log.snapshot(1).files)
    got = log.read()
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert got.schema["f"].dataType.simpleString() == "double"
    assert sorted(r.k for r in got.collect()) == list(range(20))
    assert got.agg(F.sum("f")).head()[0] == sum(i / 2 for i in range(20))
    # time travel: the pre-widen snapshot reads the original types
    old = log.read(1)
    assert old.schema["k"].dataType.simpleString() == "int"
    assert old.schema["f"].dataType.simpleString() == "float"
    # appends post-widen write the wide type; mixed files read fine
    log.write(
        spark.createDataFrame([(100, 0.5, 0)], "k bigint, f double, v long"),
        mode="append",
    )
    assert log.read().count() == 21
    assert log.read().filter(F.col("k") == 100).count() == 1
    # row ops over the mixed-width active set
    res = log.delete([("k", "==", 5)])
    assert res["rows_deleted"] == 1 and log.read().count() == 20
    # refusals: narrowing, unrelated re-typing, unknown column
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a supported widening"):
        log.alter_column_type("k", "int")
    with _pytest.raises(ValueError, match="not a supported widening"):
        log.alter_column_type("f", "string")
    with _pytest.raises(ValueError, match="no column"):
        log.alter_column_type("zz", "bigint")
    assert v2 == 2 and v3 == 3


def test_alter_column_type_decimal_and_guards(spark, tmp_path):
    from decimal import Decimal

    import pytest as _pytest

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    log = TableLog(spark, str(tmp_path / "d"))
    log.write(
        spark.createDataFrame(
            [(1, Decimal("1.25"))], "k long, d decimal(5,2)"
        )
    )
    log.alter_column_type("d", "decimal(12,2)")
    got = log.read()
    assert got.schema["d"].dataType.simpleString() == "decimal(12,2)"
    assert got.head().d == Decimal("1.25")
    with _pytest.raises(ValueError, match="not a supported widening"):
        log.alter_column_type("d", "decimal(12,4)")  # scale change
    # bucket columns refuse (bucket hash is type-sensitive)
    blog = TableLog(spark, str(tmp_path / "b"))
    blog.write(
        spark.createDataFrame([(1, 2)], "k int, v int"), bucket_by=(4, ["k"])
    )
    with _pytest.raises(ValueError, match="bucket"):
        blog.alter_column_type("k", "bigint")
    blog.alter_column_type("v", "bigint")  # non-bucket column is fine
    assert blog.read_bucketed().schema["v"].dataType.simpleString() == "bigint"


def test_alter_column_type_sql_both_backends(spark, tmp_path):
    """ALTER TABLE … ALTER COLUMN … TYPE through .sql() on both
    backends; pyds DataSource reads the widened type (Arrow cast)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
        Warehouse,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    for wh in (
        TxLogWarehouse(spark, str(tmp_path / "tx")),
        Warehouse(spark, str(tmp_path / "base")),
    ):
        wh.write_snapshot(
            spark.createDataFrame([(1, 2)], "k int, v int"), "t"
        )
        r = wh.sql("ALTER TABLE t ALTER COLUMN k TYPE bigint").head()
        assert r.operation == "ALTER COLUMN TYPE"
        got = wh.read_snapshot("t")
        assert got.schema["k"].dataType.simpleString() == "bigint"
        assert got.head().k == 1
    register_txlog(spark)
    pd_df = spark.read.format("txlog").load(str(tmp_path / "tx" / "t"))
    assert pd_df.schema["k"].dataType.simpleString() == "bigint"
    assert pd_df.head().k == 1
