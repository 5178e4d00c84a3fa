"""End-to-end pipeline test (SURVEY.md §5: run all five stages on the
testdata and assert the DQ verdict), plus the Structured Streaming twin
of the tumbling aggregation, plus io-layer behaviors."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
    quality,
    windows,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans import (
    pipeline as P,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    CatalogWarehouse,
    TxLogWarehouse,
    Warehouse,
    run_pipeline,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
    Catalog,
    read_csv,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import io
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming import (
    run_events_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def test_full_pipeline_end_to_end(spark, tmp_path):
    result = run_pipeline(spark, SF_DIR, str(tmp_path / "wh"))
    assert result["ingest_rows"] == 6000
    assert result["fact_rows"] > 0
    assert result["aggregates"]["top_pairs"] == 50
    # synthetic data is FK-consistent → all joins resolve → DQ passes
    assert result["quality"]["passed"] is True
    assert result["quality"]["missing_a"] == 0
    # curation stage writes a non-empty curated_docs table within budget
    assert 0 < result["curated_rows"] <= 500


def test_pipeline_stage_guard(spark, tmp_path):
    import pytest

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        stage_aggregates,
    )

    wh = Warehouse(spark, str(tmp_path / "empty_wh"))
    with pytest.raises(RuntimeError, match="ordering violation"):
        stage_aggregates(wh)


def test_pipeline_rerun_is_idempotent(spark, tmp_path):
    wh_dir = str(tmp_path / "wh2")
    r1 = run_pipeline(spark, SF_DIR, wh_dir)
    r2 = run_pipeline(spark, SF_DIR, wh_dir)  # overwrite, not append-dup
    assert r1["ingest_rows"] == r2["ingest_rows"]
    assert r1["aggregates"] == r2["aggregates"]


# Spark jobs per stage at sf0.001 on the parquet Warehouse. A stage's row
# count rides its write job, so no stage reads back what it wrote.
STAGE_JOB_BUDGETS = {
    "ingest": 2, "dimensions": 5, "fact": 11, "aggregates": 8, "quality": 3,
    "curate": 16,
}
BACKENDS = [Warehouse, TxLogWarehouse, CatalogWarehouse]
AGGREGATES = ("pair_daily", "time_analysis", "top_pairs")
WRITTEN = ("trips_raw", "entity_dim", "date_dim", "star_fact", *AGGREGATES,
           "curated_docs")


def test_stage_job_budgets(spark, tmp_path, jobs_in_group):
    wh, cat = Warehouse(spark, str(tmp_path / "wh")), Catalog(spark, SF_DIR)
    jobs = {
        name: jobs_in_group(f"stage-{name}", lambda: stage(wh, cat, False))[1]
        for name, stage in P.STAGES.items()
    }
    assert all(jobs[n] <= b for n, b in STAGE_JOB_BUDGETS.items()), jobs


def _drop_catalog_tables(spark) -> None:
    for t in WRITTEN:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("backend", BACKENDS)
def test_stage_counts_are_the_rows_written(spark, tmp_path, backend):
    wh, cat = backend(spark, str(tmp_path / "wh")), Catalog(spark, SF_DIR)

    def rows(t: str) -> int:
        return wh.read(t).count()

    try:
        assert P.stage_ingest(wh, cat) == rows("trips_raw")
        assert P.stage_dimensions(wh, cat) == (rows("entity_dim"), rows("date_dim"))
        assert P.stage_fact(wh, cat) == rows("star_fact")
        assert P.stage_aggregates(wh) == {t: rows(t) for t in AGGREGATES}
        assert P.stage_curate(wh, cat) == rows("curated_docs")
    finally:
        _drop_catalog_tables(spark)


@pytest.mark.parametrize("backend", BACKENDS)
def test_ingest_of_only_dirty_rows_counts_zero(spark, tmp_path, backend):
    """Every lineitem row fails the cleaning filters: the stage writes an
    empty table and returns 0 (a read-back of the empty partitioned
    parquet table cannot infer its schema)."""
    src = tmp_path / "dirty"
    Catalog(spark, SF_DIR).lineitem.withColumn(
        "l_quantity", F.col("l_quantity") * 0
    ).write.parquet(str(src / "lineitem.parquet"))
    try:
        wh = backend(spark, str(tmp_path / "wh"))
        assert P.stage_ingest(wh, Catalog(spark, str(src))) == 0
    finally:
        _drop_catalog_tables(spark)


def test_observed_metric_read_is_bounded(spark, monkeypatch):
    """A metric whose action never ran raises, naming the metric, once
    the bound has passed; one whose action ran is returned."""
    monkeypatch.setattr(quality, "OBSERVED_METRIC_TIMEOUT_S", 0.5)
    obs = Observation()
    df = spark.range(3).observe(obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="'rows'"):
        quality.observed_metric(obs, "rows")
    assert time.monotonic() - t0 < 5
    with pytest.raises(RuntimeError, match="'rows'"):
        quality.observed_metric(Observation(), "rows")  # never attached
    df.collect()
    assert quality.observed_metric(obs, "rows") == 3


def test_streaming_matches_batch(spark, tmp_path):
    """The streaming tumbling agg over the full backlog must equal the
    batch tumbling agg (same keys, same exact-decimal measures)."""
    run_events_stream(
        spark,
        f"{SF_DIR}/events.parquet",
        str(tmp_path / "ckpt"),
        sink_table="ev_stream_test",
    )
    streamed = spark.table("ev_stream_test")
    batch = windows.tumbling_agg(Catalog(spark, SF_DIR).events, "1 hour")
    assert streamed.count() == batch.count()
    diff = streamed.exceptAll(batch)
    assert diff.count() == 0


def test_csv_source_roundtrip(spark, tmp_path):
    p = tmp_path / "lookup.csv"
    p.write_text("LocationID,Borough,Zone\n1,Manhattan,Alphabet City\n2,Queens,Astoria\n")
    df = read_csv(spark, str(p))
    assert df.count() == 2
    assert df.filter(F.col("Borough") == "Queens").head().Zone == "Astoria"


def test_merge_schema_scan(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources import (
        read_parquet_dir,
    )

    d = tmp_path / "drift"
    spark.createDataFrame([(1, "a")], "id int, x string").write.parquet(str(d / "m1"))
    spark.createDataFrame([(2, "b", 3.0)], "id int, x string, y double").write.parquet(
        str(d / "m2")
    )
    merged = read_parquet_dir(spark, str(d / "*"))
    assert set(merged.columns) == {"id", "x", "y"}
    assert merged.count() == 2


def test_iceberg_seam_detection_and_errors(spark, monkeypatch):
    """The Iceberg backend seam (reference build.sbt:15): availability
    detection is honest in this jar-less container, every entry point
    fails with an actionable message naming the txlog fallback, and with
    availability mocked the calls route through writeTo/format('iceberg')
    (interface-tested only — the runtime jar is not shipped here)."""
    import pytest

    assert io.iceberg_available(spark) is False
    df = spark.range(3).selectExpr("id", "id % 2 AS p")
    with pytest.raises(RuntimeError, match="txlog"):
        io.read_iceberg(spark, "cat.db.t")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        io.append_iceberg(df, "cat.db.t")
    with pytest.raises(RuntimeError, match="txlog"):
        io.overwrite_iceberg(df, "cat.db.t", ["p"])

    # interface mock: availability on -> the writer path is exercised up
    # to Spark's own catalog resolution (which correctly reports the
    # missing catalog plugin, proving the seam routed to Iceberg)
    monkeypatch.setattr(io, "iceberg_available", lambda s: True)
    with pytest.raises(Exception, match="iceberg|catalog|not found|Cannot"):
        io.read_iceberg(spark, "nosuch_catalog.db.t").collect()
