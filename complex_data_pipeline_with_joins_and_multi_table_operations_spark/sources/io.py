"""Sources and sinks.

Replaces the reference's closed-source ``SDSIcebergReader``/``SDSIcebergWriter``
wrapper (reference IngestionJob.scala:4, build.sbt:18; API inferred in
SURVEY.md §2.10) with a thin portable layer:

- reads: parquet directory scan with schema merge (IngestionJob.scala:32-34),
  catalog table read (DimensionJob.scala:29-31), CSV lookup (README.md:50)
- writes: partitioned append (IngestionJob.scala:80-84), full overwrite
  (DimensionJob.scala:58), plus idempotent *overwrite-partitions* which the
  reference lacks (SURVEY.md §4.3.3 flags its append non-idempotency).

At 100 TB the write layout is the contract between pipeline stages: every
large table is partitioned on its natural pruning key so downstream scans
partition-prune for free.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

# The star-schema test tables the driver generates (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A small result computed in Python (a statement's outcome row, a
    metadata listing) as a DataFrame built from a pyarrow table: Spark
    holds it as a local relation, so collecting it runs no job — built
    from a Python list it goes through an RDD and runs one."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table, st)


def read_parquet_dir(spark: SparkSession, path: str, merge_schema: bool = True) -> DataFrame:
    """Parquet directory scan with schema merge across drifting monthly files
    (reference IngestionJob.scala:32-34, operator S1)."""
    return spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)


def read_csv(spark: SparkSession, path: str, header: bool = True, infer: bool = True) -> DataFrame:
    """CSV lookup-file source (reference data/taxi-zone-lookup.csv, operator S4)."""
    return spark.read.csv(path, header=header, inferSchema=infer)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Supply an explicit schema in production — schema
    inference is a full extra pass over the data (per-file at 100 TB)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (interchange format; parquet remains the analytic
    format — JSON carries no column statistics, so no pushdown)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source (pushdown + pruning parity with parquet)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_cols: list[str] | None = None,
              mode: str = "overwrite") -> None:
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog table read (operator S2; reference DimensionJob.scala:29-31)."""
    return spark.table(name)


def append(df: DataFrame, name: str, partition_cols: list[str] | None = None) -> None:
    """Partitioned append sink (operator S5; reference IngestionJob.scala:80-84).

    Creates the table when absent; appends otherwise. Non-idempotent by
    design — prefer :func:`overwrite_partitions` for re-runnable stages.
    """
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(name)


def overwrite_table(df: DataFrame, name: str, partition_cols: list[str] | None = None) -> None:
    """Full-table overwrite sink (operator S6; reference DimensionJob.scala:58)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(name)


def overwrite_partitions(df: DataFrame, name: str, partition_cols: list[str]) -> None:
    """Idempotent dynamic-partition overwrite: replaces only the partitions
    present in ``df`` (the re-runnable upgrade of the reference's append —
    SURVEY.md §4.3.3). Requires the table to exist and be partitioned."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(name):
        overwrite_table(df, name, partition_cols)
        return
    # insertInto matches columns BY POSITION, and a partitioned table
    # physically stores its partition columns last — reorder to the
    # table's own schema so callers can pass any column order
    table_cols = spark.table(name).columns
    # the DataFrameWriter partitionOverwriteMode option is not honored on
    # the catalog insertInto path in Spark 4 — set the session conf for
    # the duration of the write (restored after)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        df.select(*table_cols).write.mode("overwrite").insertInto(name)
    finally:
        spark.conf.set(conf_key, prev)


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Events-table loader handling nanosecond parquet timestamps.

    Spark's TimestampType is microsecond-precision and its parquet reader
    rejects INT64 TIMESTAMP(NANOS) outright; the legacy nanosAsLong conf
    reads the raw int64 instead. The loader exposes:
      - ``ts``     timestamp_ntz, truncated to microseconds (tz-independent:
                   built by timestampadd from the epoch, never through the
                   session timezone)
      - ``ts_us``  exact integer microseconds since epoch — the canonical
                   ordering/arithmetic key for window operators
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path)
    ts_field = dict(raw.dtypes).get("ts")
    if ts_field == "bigint":
        df = raw.withColumn("ts_us", F.expr("ts DIV 1000"))
    else:  # already a timestamp type (µs/ms source data)
        df = raw.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return df.withColumn(
        "ts",
        F.expr("timestampadd(MICROSECOND, ts_us, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
    )


class Catalog:
    """Named-table access over a scale-factor directory of parquet files,
    plus temp-view registration so the same queries run as SQL.

    This is the engine's analogue of the reference's Iceberg Hadoop catalog
    (IngestionJob.scala:15-19): tables addressed by name, storage columnar.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if name == "events":
                self._cache[name] = load_events(self.spark, path)
            else:
                self._cache[name] = self.spark.read.parquet(path)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TPCH_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, tables: tuple[str, ...] = TPCH_TABLES) -> None:
        for t in tables:
            self.table(t).createOrReplaceTempView(t)

    def table_exists(self, name: str) -> bool:
        """Catalog existence probe (operator S7; reference FactJob.scala:33-36)."""
        return os.path.exists(os.path.join(self.sf_dir, f"{name}.parquet")) or (
            self.spark.catalog.tableExists(name)
        )


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_file_mb``. Streaming sinks and per-partition appends leave
    thousands of KB-sized files; at 100 TB that degrades scan planning
    (footer reads) and shuffle locality. Sizing uses the directory's
    on-disk bytes — no data collect; the rewrite goes to a SIBLING dir on
    the same filesystem and swaps in via Hadoop FS rename, so it works on
    HDFS/object stores and the source data is never deleted before the
    rewrite is fully in place (worst crash window leaves the data intact
    under ``<path>._compact_old``; a table format would make the swap
    fully transactional). Returns the new file count."""
    import math

    hfs = spark._jvm.org.apache.hadoop.fs  # noqa: SLF001
    jvm_path = hfs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    base = path.rstrip("/")
    tmp_path = hfs.Path(base + "._compact_tmp")
    old_path = hfs.Path(base + "._compact_old")
    for stale in (tmp_path, old_path):
        if fs.exists(stale):
            fs.delete(stale, True)

    # full rewrite lands in the sibling dir before the source is touched
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp_path.toString())

    if not fs.rename(jvm_path, old_path):
        raise IOError(f"compact_parquet: could not move {path} aside")
    if not fs.rename(tmp_path, jvm_path):
        fs.rename(old_path, jvm_path)  # roll back — source untouched
        raise IOError(f"compact_parquet: could not swap rewrite into {path}")
    fs.delete(old_path, True)
    return n_files


# ---------------------------------------------------------------------------
# Iceberg backend seam (reference build.sbt:15 iceberg-spark-runtime-3.5;
# IngestionJob.scala:15-19 catalog config). The engine's own txlog format
# covers — and in DV/DDL/CDC exceeds — the capabilities the reference uses,
# but a user migrating FROM the reference expects these calls to hit real
# Iceberg tables when the runtime jar is on the classpath. The jar is not
# in this container, so the seam is interface-tested only: availability
# detection is real, every entry point raises a precise, actionable error
# without it, and the happy path is plain `format("iceberg")` calls that
# Spark routes to the jar's DataSource once present.

def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg Spark runtime jar is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _require_iceberg(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath: add "
            "iceberg-spark-runtime (spark.jars.packages="
            "org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver>) and a "
            "catalog config (spark.sql.catalog.<name>=org.apache.iceberg."
            "spark.SparkCatalog), or use the built-in txlog backend "
            "(sources/txlog.py TableLog / format('txlog')) which covers the "
            "same snapshot/time-travel/DML surface"
        )


def _iceberg_ts_millis(timestamp_as_of: "str | int") -> int:
    """Iceberg's ``as-of-timestamp`` read option takes EPOCH
    MILLISECONDS (a long), not a timestamp string — convert an ISO
    string (naive = UTC, matching the txlog TIMESTAMP AS OF rewrite in
    plans/pipeline.py) and pass ints through untouched."""
    if isinstance(timestamp_as_of, int):
        return timestamp_as_of
    from datetime import datetime, timezone

    ts = datetime.fromisoformat(timestamp_as_of)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return int(ts.timestamp() * 1000)


def read_iceberg(
    spark: SparkSession,
    table: str,
    version_as_of: int | None = None,
    timestamp_as_of: "str | int | None" = None,
) -> DataFrame:
    """Iceberg catalog table read with optional time travel — the
    reference's `spark.read.table` + `VERSION AS OF` surface
    (reference README.md:143-154) against a real Iceberg catalog.
    ``timestamp_as_of`` accepts an ISO string (naive = UTC) or epoch
    millis; either way Iceberg receives the long it expects."""
    _require_iceberg(spark)
    reader = spark.read.format("iceberg")
    if version_as_of is not None:
        reader = reader.option("snapshot-id", version_as_of)
    if timestamp_as_of is not None:
        reader = reader.option(
            "as-of-timestamp", _iceberg_ts_millis(timestamp_as_of)
        )
    return reader.load(table)


def append_iceberg(
    df: DataFrame, table: str, partition_cols: list[str] | None = None
) -> None:
    """Append through Iceberg's commit protocol (ACID, like txlog). On
    first write, creates the table partitioned by ``partition_cols``."""
    _require_iceberg(df.sparkSession)
    if not df.sparkSession.catalog.tableExists(table):
        w = df.writeTo(table).using("iceberg")
        if partition_cols:
            cols = [df[c] for c in partition_cols]
            w = w.partitionedBy(*cols)
        w.create()
        return
    df.writeTo(table).append()


def overwrite_iceberg(
    df: DataFrame, table: str, partition_cols: list[str] | None = None
) -> None:
    """Dynamic partition overwrite (Iceberg's overwritePartitions — the
    idempotent re-run shape of overwrite_partitions) or full replace
    when the table is unpartitioned. A FIRST write to a partitioned
    table creates it (overwritePartitions has no create-if-missing),
    mirroring append_iceberg."""
    _require_iceberg(df.sparkSession)
    if partition_cols:
        if not df.sparkSession.catalog.tableExists(table):
            cols = [df[c] for c in partition_cols]
            df.writeTo(table).using("iceberg").partitionedBy(*cols).create()
            return
        df.writeTo(table).overwritePartitions()
    else:
        df.writeTo(table).using("iceberg").createOrReplace()
