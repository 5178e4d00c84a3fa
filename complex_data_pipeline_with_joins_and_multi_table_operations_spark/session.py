"""SparkSession factory.

The reference builds a local[*] session with an Iceberg Hadoop catalog in
every job (reference IngestionJob.scala:12-20 and identical blocks in the
other four jobs). Here a single factory owns session construction; the
defaults are tuned for correctness tests on local[N] while remaining the
right defaults for a large cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized from the env, not hardcoded 200
- Arrow enabled for the few pandas-UDF code paths
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def bench_driver_memory() -> str:
    """The default Spark driver heap of ``bench.py`` and
    ``tools/bench_subset.py``: 16 GiB, or half the host's memory when
    that is less. Local mode runs every executor thread inside the
    driver JVM, so the heap needs headroom, but never more than the host
    has."""
    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(16 * 1024, kib // 2048)}m"


def get_spark(
    app_name: str = "complex-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` and launch via spark-submit;
    the builder then inherits the cluster master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"

    # Python workers must be able to import this package (Python DataSource
    # classes — sources/pyds.py — unpickle by module reference). Local-mode
    # workers inherit the JVM's env, which inherits ours, so exporting
    # PYTHONPATH before the JVM launches covers them; on a real cluster ship
    # the package with --py-files / a wheel instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSources (sources/pyds.py) see pushed filters for
        # log-metadata file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # nanosecond parquet timestamps (events table) must not error
        .config("spark.sql.legacy.parquet.nanosAsLong", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
