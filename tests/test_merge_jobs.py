"""Job budgets of SQL statements through ``Warehouse.sql``.

At this scale a MERGE's cost is its Spark job count. The budget is one
collect of the source keys (bounds, per-file membership and the
duplicate-key check all come from it), then the target⋈source full outer
join and its write — two shuffle map stages and the write job under AQE.
The statement's one-row result is a local relation, so collecting it
runs no job at all."""

from __future__ import annotations

from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
)

MERGE = (
    "MERGE INTO t USING chg_jobs AS s ON t.k = s.k "
    "WHEN MATCHED AND s.op = 'D' THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, yr, v) "
    "VALUES (s.k, s.yr, s.v)"
)


def test_sql_merge_runs_at_most_four_jobs(spark, tmp_path, jobs_in_group):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    rows = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3 + 1995).cast("int").alias("yr"),
        (F.col("id") * 2).alias("v"),
    )
    wh.write_snapshot(rows.repartition(4), "t", partition_by=["yr"])
    files = int(wh.detail("t").collect()[0]["num_files"])
    assert files > 3  # several files per year partition
    changes = [(3, 1995, -1, "D"), (4, 1996, -2, "U"), (2999, 1997, -3, "U"),
               (5000, 1997, 7, "I"), (5001, 1997, 8, "D")]
    path = str(tmp_path / "chg.parquet")
    spark.createDataFrame(changes, "k long, yr int, v long, op string") \
        .coalesce(1).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("chg_jobs")

    res, merge_jobs = jobs_in_group("merge-jobs", lambda: wh.sql(MERGE))
    row, result_jobs = jobs_in_group("merge-result", lambda: res.collect()[0])
    assert merge_jobs <= 4, merge_jobs
    assert result_jobs == 0, result_jobs
    assert row.operation == "MERGE" and row.version == 2

    got = {r.k: r.v for r in wh.read_snapshot("t").collect()}
    want = {k: k * 2 for k in range(3000) if k != 3}
    want.update({4: -2, 2999: -3, 5000: 7})
    assert got == want


def test_sql_delete_with_folded_date_runs_at_most_three_jobs(
    spark, tmp_path, jobs_in_group
):
    """The retention DELETE: its WHERE value folds to a DATE constant
    without a job (the fold selects from an inline table, a local
    relation), so the statement costs what the copy-on-write rewrite of
    the candidate files costs."""
    from datetime import date, timedelta

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    today = date.today()
    rows = [(i, today - timedelta(days=i * 10)) for i in range(30)]
    wh.write_snapshot(
        spark.createDataFrame(rows, "id int, d date").repartition(3), "t"
    )
    res, delete_jobs = jobs_in_group(
        "delete-jobs",
        lambda: wh.sql("DELETE FROM t WHERE d < date_sub(current_date(), 90)"),
    )
    row, result_jobs = jobs_in_group("delete-result", lambda: res.collect()[0])
    assert delete_jobs <= 3, delete_jobs
    assert result_jobs == 0, result_jobs
    assert row.operation == "DELETE" and row.rows == 20
    assert sorted(r.id for r in wh.read_snapshot("t").collect()) == list(range(10))


def test_default_validation_runs_no_job(spark, tmp_path, jobs_in_group):
    """A DEFAULT is checked by casting it over a one-row local relation
    with no columns, so declaring or changing one runs no job, and a
    column name still has nothing to bind to."""
    import pytest

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    _, create_jobs = jobs_in_group(
        "default-create",
        lambda: wh.sql("CREATE TABLE c (id BIGINT, d STRING DEFAULT 'x')"),
    )
    _, alter_jobs = jobs_in_group(
        "default-alter",
        lambda: wh.sql("ALTER TABLE c ALTER COLUMN d SET DEFAULT upper('y')"),
    )
    assert (create_jobs, alter_jobs) == (0, 0)
    assert wh._log("c").snapshot().defaults == {"d": "upper('y')"}
    for expr in ("id", "z"):
        with pytest.raises(ValueError, match="constant"):
            wh.sql(f"ALTER TABLE c ALTER COLUMN d SET DEFAULT {expr}")
