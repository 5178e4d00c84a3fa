"""Round-12 features.

1. Generated/identity columns at CREATE time (verdict-r11 task 1):
   ``TableLog.create`` (empty table + declared metadata), the
   ``write(generated=…)`` CTAS-with-data path, and the SQL
   ``CREATE TABLE t (col TYPE GENERATED ALWAYS AS …)`` surface — so v1
   data already satisfies the generated invariant instead of round 11's
   "declare before first write by convention".
2. Create-time TBLPROPERTIES (verdict-r11 task 8): the declare clause on
   both the explicit-column CREATE TABLE and CTAS, plus SQL SHALLOW
   CLONE end-to-end coverage on the txlog backend.

The reference has no DDL at all (its tables appear by being written,
IngestionJob.scala:15-19) — this is the engine's Delta-parity extension
surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    TableLog,
)


# -- TableLog.create -------------------------------------------------------


def test_create_empty_table_with_metadata(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    v = log.create(
        "id BIGINT, k BIGINT, price DOUBLE, band INT, tier STRING",
        generated={
            "id": {"identity": {"start": 10, "step": 2}},
            "band": {"expr": "CAST(FLOOR(price/100) AS INT)"},
        },
        defaults={"tier": "'std'"},
        properties={"delta.enableChangeDataFeed": "true"},
    )
    assert v == 1
    snap = log.snapshot()
    assert snap.generated["id"]["identity"] == {
        "start": 10,
        "step": 2,
        "high": 8,
    }
    assert snap.generated["band"] == {"expr": "CAST(FLOOR(price/100) AS INT)"}
    assert snap.defaults == {"tier": "'std'"}
    assert snap.properties == {"delta.enableChangeDataFeed": "true"}
    assert log.read().count() == 0
    assert log.read().columns == ["id", "k", "price", "band", "tier"]


def test_create_then_first_append_satisfies_invariant(spark, tmp_path):
    """The point of CREATE-time declaration: the FIRST data commit
    already allocates identity values and computes generated columns —
    no convention required."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.create(
        "id BIGINT, k BIGINT, price DOUBLE, band INT",
        generated={
            "id": {"identity": {"start": 10, "step": 2}},
            "band": {"expr": "CAST(FLOOR(price/100) AS INT)"},
        },
    )
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 150.0).alias("price")
    )
    log.write(df, mode="append")
    rows = log.read().orderBy("k").collect()
    ids = [r["id"] for r in rows]
    assert len(set(ids)) == 5
    assert all(i >= 10 and i % 2 == 0 for i in ids)  # start 10, step 2
    assert [r["band"] for r in rows] == [0, 1, 3, 4, 6]
    # second append: high-water advanced from staged stats, no collision
    log.write(df, mode="append")
    ids2 = [r["id"] for r in log.read().collect()]
    assert len(set(ids2)) == 10


def test_create_refuses_existing_and_bad_specs(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.create("a INT")
    with pytest.raises(ValueError, match="already exists"):
        log.create("a INT")
    log2 = TableLog(spark, str(tmp_path / "u"))
    with pytest.raises(ValueError, match="BIGINT"):
        log2.create("a INT", generated={"a": {"identity": {}}})
    with pytest.raises(ValueError, match="deterministic"):
        log2.create(
            "a INT, b DOUBLE",
            generated={"b": {"expr": "rand()"}},
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        log2.create(
            "a INT, b INT",
            generated={"b": {"expr": "a + 1"}},
            defaults={"b": "7"},
        )
    with pytest.raises(ValueError, match="non-generated"):
        # a generated column may not reference another generated column
        log2.create(
            "a INT, b INT, c INT",
            generated={"b": {"expr": "a + 1"}, "c": {"expr": "b + 1"}},
        )
    with pytest.raises(ValueError, match="not in the declared schema"):
        log2.create("a INT", partition_by=["zz"])
    with pytest.raises(ValueError, match="constant"):
        log2.create("a INT, b INT", defaults={"b": "a + 1"})


def test_create_partitioned_and_bucketed(spark, tmp_path):
    logp = TableLog(spark, str(tmp_path / "p"))
    logp.create("d STRING, v INT", partition_by=["d"])
    assert logp.snapshot().partition_by == ["d"]
    logp.write(
        spark.createDataFrame([("a", 1), ("b", 2)], "d string, v int"),
        mode="append",
        partition_by=["d"],
    )
    assert logp.read().count() == 2

    logb = TableLog(spark, str(tmp_path / "b"))
    logb.create("k BIGINT, v DOUBLE", bucket_by=(4, ["k"]))
    assert logb.snapshot().bucket_by["n"] == 4
    logb.write(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
        mode="append",
    )
    # appends staged through the bucketed writer join the layout
    assert logb.read_bucketed().count() == 2


def test_write_generated_ctas_materializes_absent_columns(spark, tmp_path):
    """write(generated=…) — the CTAS-with-data declaration: identity and
    computed columns absent from the df materialize (BIGINT / inferred
    type) and compute; appends then refuse explicit identity values."""
    log = TableLog(spark, str(tmp_path / "t"))
    src = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") + 0.5).alias("v")
    )
    log.write(
        src,
        generated={"rid": {"identity": {}}, "dbl": {"expr": "v * 2"}},
    )
    out = log.read().orderBy("k").collect()
    assert [r["dbl"] for r in out] == [1.0, 3.0, 5.0, 7.0]
    rids = [r["rid"] for r in out]
    assert len(set(rids)) == 4 and min(rids) >= 1
    assert dict(log.snapshot().generated)["rid"]["identity"]["start"] == 1
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        log.write(
            src.withColumn("rid", F.lit(99).cast("bigint")), mode="append"
        )


def test_write_generated_only_on_full_overwrite(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="full overwrite"):
        log.write(src, mode="append", generated={"d": {"expr": "v"}})
    with pytest.raises(ValueError, match="full overwrite"):
        log.write(src, mode="append", properties={"x": "1"})


def test_write_generated_carried_identity_values_advance_high(
    spark, tmp_path
):
    """The admin/copy path: a declaring overwrite MAY carry identity
    values; the high-water mark folds over them so later allocations
    never collide."""
    log = TableLog(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(100, 1), (200, 2)], "rid long, k int"
    )
    log.write(src, generated={"rid": {"identity": {}}})
    assert log.snapshot().generated["rid"]["identity"]["high"] >= 200
    log.write(
        spark.createDataFrame([(3,)], "k int"), mode="append"
    )
    rids = [r["rid"] for r in log.read().collect()]
    assert len(set(rids)) == 3 and max(rids) > 200


# -- SQL surface -----------------------------------------------------------


def test_sql_create_table_full_stack(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.sql(
        "CREATE TABLE t ("
        " id BIGINT GENERATED ALWAYS AS IDENTITY"
        "   (START WITH 10 INCREMENT BY 2),"
        " k BIGINT,"
        " price DOUBLE,"
        " band INT GENERATED ALWAYS AS (CAST(FLOOR(price / 100) AS INT)),"
        " tier STRING DEFAULT 'std',"
        " tags MAP<STRING, INT>"
        ") TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')"
    )
    wh.sql("INSERT INTO t (k, price) VALUES (1, 150.0), (2, 420.0)")
    wh.sql("INSERT INTO t (k, price, tier) VALUES (3, 90.0, 'big')")
    rows = wh.read_snapshot("t").orderBy("k").collect()
    assert [r["band"] for r in rows] == [1, 4, 0]
    assert [r["tier"] for r in rows] == ["std", "std", "big"]
    ids = [r["id"] for r in rows]
    assert len(set(ids)) == 3
    assert all(i >= 10 and i % 2 == 0 for i in ids)
    assert (
        wh._log("t").snapshot().properties["delta.enableChangeDataFeed"]
        == "true"
    )
    # INSERT may not provide a generated column
    with pytest.raises(ValueError, match="generated column"):
        wh.sql("INSERT INTO t (k, price, band) VALUES (4, 1.0, 9)")
    with pytest.raises(ValueError, match="already exists"):
        wh.sql("CREATE TABLE t (a INT)")


def test_parse_column_defs_edge_cases(spark, tmp_path):
    """CREATE TABLE column definitions go through Spark's parser: commas
    inside types, literals and expressions never split a column."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    # types with commas, a bare IDENTITY, a DEFAULT whose literal holds a
    # comma and parens, a generated expression with nested parens
    wh.sql(
        "CREATE TABLE e (a DECIMAL(10, 2), b MAP<STRING, INT>, "
        "c BIGINT GENERATED ALWAYS AS IDENTITY, "
        "d STRING DEFAULT 'x, (y)', "
        "e INT GENERATED ALWAYS AS (CAST(a * 2 AS INT)))"
    )
    snap = wh._log("e").snapshot()
    assert [f.simpleString() for f in snap.schema.fields] == [
        "a:decimal(10,2)",
        "b:map<string,int>",
        "c:bigint",
        "d:string",
        "e:int",
    ]
    assert snap.generated == {
        "c": {"identity": {"start": 1, "step": 1, "high": 0}},
        "e": {"expr": "CAST(a * 2 AS INT)"},
    }
    assert snap.defaults == {"d": "'x, (y)'"}
    wh.sql("INSERT INTO e (a) VALUES (1.25)")
    row = wh.read_snapshot("e").head()
    assert (row.c, row.d, row.e) == (1, "x, (y)", 2)
    # a column clause the txlog backend cannot honour raises, never drops
    with pytest.raises(ValueError, match="unsupported column constraint"):
        wh.sql("CREATE TABLE n (a INT NOT NULL)")
    for clause in ("GENERATED BY DEFAULT AS IDENTITY", "COMMENT 'c'"):
        with pytest.raises(ValueError, match=clause.split(" '")[0]):
            wh.sql(f"CREATE TABLE n (a BIGINT {clause})")
    assert not wh.exists("n")


def test_sql_create_table_partitioned_insert_inherits_layout(
    spark, tmp_path
):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.sql("CREATE TABLE p (d STRING, v INT) PARTITIONED BY (d)")
    wh.sql("INSERT INTO p VALUES ('a', 1), ('b', 2)")
    snap = wh._log("p").snapshot()
    assert snap.partition_by == ["d"]
    assert {
        tuple(m.get("partition_values", {}).items())
        for m in snap.files.values()
    } == {(("d", "a"),), (("d", "b"),)}
    assert wh.read_snapshot("p").count() == 2


def test_sql_create_table_bucketed(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.sql(
        "CREATE TABLE b (k BIGINT, v DOUBLE) "
        "CLUSTERED BY (k) INTO 4 BUCKETS"
    )
    wh.sql("INSERT INTO b VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    assert wh._log("b").snapshot().bucket_by["n"] == 4
    assert wh.read_bucketed("b").count() == 3


def test_sql_ctas_tblproperties(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    spark.range(5).select(F.col("id").alias("k")).createOrReplaceTempView(
        "r12_srcv"
    )
    wh.sql(
        "CREATE TABLE c TBLPROPERTIES ('delta.enableChangeDataFeed' = "
        "'true', 'owner' = 'me', 'team' = 'a, b''s') AS SELECT k FROM r12_srcv"
    )
    assert wh._log("c").snapshot().properties == {
        "delta.enableChangeDataFeed": "true",
        "owner": "me",
        "team": "a, b's",
    }
    assert wh.read_snapshot("c").count() == 5
    # keys Spark's parser reserves for its catalog are plain properties
    wh.sql("ALTER TABLE c SET TBLPROPERTIES ('location' = 's3://x', owner = 'you')")
    assert wh._log("c").snapshot().properties["owner"] == "you"
    assert wh._log("c").snapshot().properties["location"] == "s3://x"


def test_sql_shallow_clone_txlog_end_to_end(spark, tmp_path):
    """Verdict-r11 task 8: SHALLOW CLONE driven purely through SQL on
    the txlog backend — zero-copy fork, version pinning, divergence."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string"
    ).createOrReplaceTempView("r12_clone_src")
    wh.sql("CREATE TABLE src AS SELECT * FROM r12_clone_src")
    wh.sql("INSERT INTO src VALUES (3, 'c')")
    wh.sql("CREATE TABLE dst SHALLOW CLONE src VERSION AS OF 1")
    assert wh.read_snapshot("dst").count() == 2  # pre-insert snapshot
    wh.sql("CREATE TABLE dst2 SHALLOW CLONE src")
    assert wh.read_snapshot("dst2").count() == 3
    # the clone diverges independently; the source is untouched
    wh.sql("INSERT INTO dst2 VALUES (4, 'd')")
    assert wh.read_snapshot("dst2").count() == 4
    assert wh.read_snapshot("src").count() == 3


# -- REORG TABLE … APPLY (PURGE) ------------------------------------------


def test_reorg_purge_rewrites_only_dv_files(spark, tmp_path):
    """The scoped dv purge: files WITHOUT vectors keep their identity
    (same path, never rewritten); dv-carrying files materialize; the
    snapshot's dv map empties by the replay rule."""
    log = TableLog(spark, str(tmp_path / "t"))
    # three separate files via three appends
    for lo in (0, 100, 200):
        log.write(
            spark.range(lo, lo + 50)
            .selectExpr("id", "id * 2 AS v")
            .coalesce(1),
            mode="append",
        )
    # vector on the middle file only
    log.delete([("id", "between", (110, 119))], via="dv")
    snap0 = log.snapshot()
    assert len(snap0.files) == 3 and len(snap0.dvs) == 1
    untouched = set(snap0.files) - set(snap0.dvs)
    res = log.reorg_purge()
    assert res["files_purged"] == 1
    assert res["files_untouched"] == 2
    assert res["rows_materialized"] == 10
    snap1 = log.snapshot()
    assert snap1.dvs == {}
    # untouched files keep their exact identity
    assert untouched <= set(snap1.files)
    assert set(snap0.dvs) & set(snap1.files) == set()
    assert log.read().count() == 140
    assert log.read().filter("id between 110 and 119").count() == 0
    # idempotent: nothing left to purge, no commit
    v = snap1.version
    res2 = log.reorg_purge()
    assert res2["files_purged"] == 0 and res2["version"] == v
    # the purge commit carries dataChange=false (streaming skip rule)
    import json as _json
    import os as _os

    with open(
        _os.path.join(log.log_dir, f"{snap1.version:012d}.json")
    ) as f:
        assert _json.load(f)["dataChange"] is False


def test_reorg_purge_bucketed_preserves_layout(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(1000).selectExpr("id AS k", "id * 1.5 AS v")
        .repartition(4),
        bucket_by=(4, ["k"]),
    )
    log.delete([("k", "between", (10, 19))], via="dv")
    assert log.snapshot().dvs
    res = log.reorg_purge()
    assert res["files_purged"] >= 1
    snap = log.snapshot()
    assert snap.dvs == {} and snap.bucket_by["n"] == 4
    assert log.read_bucketed().count() == 990


def test_sql_reorg_apply_purge(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    spark.range(100).selectExpr(
        "id", "id * 3 AS v"
    ).createOrReplaceTempView("r12_reorg_src")
    wh.sql("CREATE TABLE t AS SELECT * FROM r12_reorg_src")
    wh.delete("t", [("id", "<", 10)], via="dv")
    out = wh.sql("REORG TABLE t APPLY (PURGE)").collect()[0]
    assert out["operation"] == "REORG APPLY (PURGE)"
    assert out["files_purged"] >= 1
    assert wh._log("t").snapshot().dvs == {}
    assert wh.read_snapshot("t").count() == 90


def test_maintain_dv_trigger_purges_scoped(spark, tmp_path):
    """The janitor's dv-density response is the scoped purge: the
    clean files of a two-file table survive with their identity."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(100).selectExpr("id"), mode="append")
    log.write(spark.range(100, 200).selectExpr("id"), mode="append")
    log.delete([("id", "<", 40)], via="dv")  # 40/200 = 20% > 10%
    clean = set(log.snapshot().files) - set(log.snapshot().dvs)
    res = log.maintain(
        target_file_bytes=10, max_small_files=99, min_file_age_s=0.0
    )
    assert res["purged"] is not None and res["optimized"] is None
    snap = log.snapshot()
    assert snap.dvs == {} and clean <= set(snap.files)
    assert log.read().count() == 160


# -- streaming change-data feed -------------------------------------------


def _cdf_table(spark, tmp_path, name="t"):
    """A CDF-enabled table with a mixed append/dv-update/CoW-delete/
    CoW-update/dv-delete history — the verdict-r11 task-2 scenario."""
    log = TableLog(spark, str(tmp_path / name))
    log.create(
        "k BIGINT, status STRING, price DOUBLE",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    log.write(
        spark.range(20)
        .selectExpr("id AS k", "'A' AS status", "id * 100.0D AS price")
        .coalesce(2),
        mode="append",
    )
    log.update([("k", "<", 5)], {"status": "'H'"}, via="dv")
    log.delete([("k", "between", (8, 11))], via="cow")
    log.update([("price", ">", 1500.0)], {"price": "price + 7.0D"}, via="cow")
    log.delete([("k", "==", 6)], via="dv")
    log.write(
        spark.range(100, 105)
        .selectExpr("id AS k", "'B' AS status", "id * 1.0D AS price")
        .coalesce(1),
        mode="append",
    )
    return log


def _drain_stream(spark, root, qname, ckpt, **options):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    sdf = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .options(**options)
        .load(root)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(qname)


def test_stream_cdf_equals_batch_feed(spark, tmp_path):
    """The streaming change feed delivers EXACTLY the batch
    table_changes rows across a mixed append / dv-update / CoW-delete /
    CoW-update / dv-delete history (round-12 batch/stream CDC parity)."""
    log = _cdf_table(spark, tmp_path)
    key = lambda r: (
        r.k,
        r.status,
        r.price,
        r._change_type,
        r._commit_version,
    )
    brows = sorted(key(r) for r in log.table_changes(0).collect())
    out = _drain_stream(
        spark, log.root, "r12_feed", str(tmp_path / "ckpt")
    )
    srows = sorted(key(r) for r in out.collect())
    assert brows == srows
    # the images are precise: CoW survivors emit nothing
    types = {r[3] for r in srows}
    assert types == {
        "insert",
        "delete",
        "update_preimage",
        "update_postimage",
    }


def test_stream_cdf_fold_equals_recompute(spark, tmp_path):
    """Verdict-r11 task 2's done-bar: folding the STREAMED change rows
    into an additive summary equals the from-scratch recompute of the
    final table."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
        apply_changes_to_summary,
    )

    log = _cdf_table(spark, tmp_path)
    changes = _drain_stream(
        spark, log.root, "r12_fold", str(tmp_path / "ckpt")
    )
    empty = (
        log.read()
        .limit(0)
        .groupBy("status")
        .agg(F.count("*").alias("cnt"), F.sum("price").alias("price"))
    )
    folded = apply_changes_to_summary(
        empty, changes, ["status"], count_col="cnt", sum_cols={"price": 2}
    )
    recomputed = (
        log.read()
        .groupBy("status")
        .agg(F.count("*").alias("cnt"), F.sum("price").alias("price"))
    )
    f = {r.status: (r.cnt, r.price) for r in folded.collect()}
    r = {r.status: (r.cnt, r.price) for r in recomputed.collect()}
    assert f == r and f  # non-empty and bit-equal


def test_stream_cdf_requires_property(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.range(5).selectExpr("id AS k"))
    sdf = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(log.root)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("r12_noprop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="delta.enableChangeDataFeed"):
        q.awaitTermination(120)
        q.processAllAvailable()


def test_stream_cdf_refuses_pre_property_cow_commit(spark, tmp_path):
    """A CoW row-op commit from BEFORE the property was enabled has no
    sidecar — the stream fails loudly instead of emitting a wrong feed."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(20).selectExpr("id AS k", "id * 1.0D AS v").coalesce(1)
    )
    log.delete([("k", "<", 5)], via="cow")  # pre-property: no sidecar
    log.set_properties({"delta.enableChangeDataFeed": "true"})
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.pyds import (
        register_txlog,
    )

    register_txlog(spark)
    sdf = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(log.root)
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("r12_prefail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no CDC record"):
        q.awaitTermination(120)
        q.processAllAvailable()
    # startingVersion past the offending commit streams clean
    out = _drain_stream(
        spark,
        log.root,
        "r12_past",
        str(tmp_path / "ckpt2"),
        startingVersion="3",
    )
    assert out.count() == 0  # property commit only — no data changes


def test_stream_cdf_skips_compaction_and_purge(spark, tmp_path):
    """OPTIMIZE and REORG APPLY (PURGE) commits carry dataChange=false:
    the change stream emits nothing for them (their rows were already
    delivered by the original commits)."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.create(
        "k BIGINT, v DOUBLE",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    log.write(
        spark.range(10).selectExpr("id AS k", "id * 2.0D AS v").coalesce(1),
        mode="append",
    )
    log.delete([("k", "<", 3)], via="dv")
    before = _drain_stream(
        spark, log.root, "r12_precompact", str(tmp_path / "ckptA")
    ).count()
    log.reorg_purge()
    log.optimize(n_files=1)
    after = _drain_stream(
        spark, log.root, "r12_postcompact", str(tmp_path / "ckptB")
    ).count()
    assert after == before == 13  # 10 inserts + 3 deletes, nothing more


def test_cow_update_writes_sidecar_under_cdf(spark, tmp_path):
    """Round 12: with the property on, a CoW UPDATE commit writes the
    exact pre/post images to a _cdc/ sidecar (what Delta does) so the
    STREAM can read them; batch table_changes reads the same sidecar."""
    import json as _json
    import os as _os

    log = TableLog(spark, str(tmp_path / "t"))
    log.create(
        "k BIGINT, v DOUBLE",
        properties={"delta.enableChangeDataFeed": "true"},
    )
    log.write(
        spark.range(10).selectExpr("id AS k", "id * 2.0D AS v").coalesce(1),
        mode="append",
    )
    res = log.update([("k", "<", 3)], {"v": "v + 100.0D"}, via="cow")
    with open(
        _os.path.join(log.log_dir, f"{res['version']:012d}.json")
    ) as f:
        c = _json.load(f)
    assert c.get("cdc_files") and "cdc_derive" not in c
    feed = log.table_changes(res["version"] - 1, res["version"])
    rows = {(r.k, r.v, r._change_type) for r in feed.collect()}
    assert rows == {
        (0, 0.0, "update_preimage"),
        (1, 2.0, "update_preimage"),
        (2, 4.0, "update_preimage"),
        (0, 100.0, "update_postimage"),
        (1, 102.0, "update_postimage"),
        (2, 104.0, "update_postimage"),
    }
