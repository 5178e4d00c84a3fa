"""Data-quality validation (reference DataQualityJob.scala:26-41; SURVEY.md
§2.3 F8-F9, §5.1).

The reference counts: null pickup_borough, null dropoff_borough, and
out-of-range durations, then declares pass iff all three are zero. Here the
same checks run over the fact table's nation roles and quantity range —
and all three counts come back in ONE aggregation pass (the reference runs
three separate count jobs, each re-scanning the table; SURVEY.md §4.3.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_counts(
    fact: DataFrame,
    null_col_a: str = "supp_nation",
    null_col_b: str = "cust_nation",
    range_col: str = "quantity",
    range_lo: float = 0.0,
    range_hi: float = 1000.0,
) -> DataFrame:
    """One-row DataFrame of violation counts.

    - missing_a / missing_b: null dimension attributes introduced by the
      left-outer joins (F8; DataQualityJob.scala:31-32)
    - invalid_range: disjunctive out-of-range check (F9;
      DataQualityJob.scala:33-35)
    - total_rows and passed for the pass/fail verdict
      (DataQualityJob.scala:37-41)
    """
    a, b, r = F.col(null_col_a), F.col(null_col_b), F.col(range_col)
    return fact.agg(
        F.count("*").alias("total_rows"),
        F.count(F.when(a.isNull(), 1)).alias("missing_a"),
        F.count(F.when(b.isNull(), 1)).alias("missing_b"),
        F.count(F.when((r <= range_lo) | (r >= range_hi), 1)).alias("invalid_range"),
    ).select(
        "total_rows",
        "missing_a",
        "missing_b",
        "invalid_range",
        (
            (F.col("missing_a") + F.col("missing_b") + F.col("invalid_range")) == 0
        ).alias("passed"),
    )


def observed_quality(
    df: DataFrame,
    null_col_a: str = "supp_nation",
    null_col_b: str = "cust_nation",
    range_col: str = "quantity",
    range_lo: float = 0.0,
    range_hi: float = 1000.0,
):
    """Attach the DQ counters to the DataFrame as an Observation: the
    metrics are collected DURING whatever action consumes ``df`` (e.g.
    the table write) — zero extra scans, unlike the reference's separate
    count jobs (SURVEY.md §4.3.1: every logging count() re-ran the plan).

    Returns (df_with_observation, observation); read
    ``observation.get`` AFTER an action has run. At 100 TB this is the
    difference between validating for free and re-reading the table.
    """
    from pyspark.sql import Observation

    a, b, r = F.col(null_col_a), F.col(null_col_b), F.col(range_col)
    obs = Observation("dq")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(a.isNull(), 1)).alias("missing_a"),
        F.count(F.when(b.isNull(), 1)).alias("missing_b"),
        F.count(F.when((r <= range_lo) | (r >= range_hi), 1)).alias("invalid_range"),
    )
    return observed, obs


# How long an observed metric may take to arrive once its action has run.
# Spark delivers it from a listener shortly after the action returns; a
# metric that never arrives (its action never ran, or an execution path
# that skips the collection) must fail, not hang.
OBSERVED_METRIC_TIMEOUT_S = 120.0


def observed_metric(obs, name: str):
    """The metric ``name`` of an Observation whose action has run, waiting
    at most ``OBSERVED_METRIC_TIMEOUT_S`` for it; RuntimeError naming the
    metric when it does not arrive in that time."""
    from py4j.protocol import Py4JJavaError

    if obs._jo is not None:  # None: never attached to a DataFrame
        jvm = obs._jvm
        bound = jvm.scala.concurrent.duration.Duration.create(
            int(OBSERVED_METRIC_TIMEOUT_S * 1000), "ms"
        )
        try:
            jvm.scala.concurrent.Await.ready(obs._jo.future(), bound)
        except Py4JJavaError as e:
            cls = e.java_exception.getClass().getName()
            if cls != "java.util.concurrent.TimeoutException":
                raise
        else:
            return obs.get[name]
    raise RuntimeError(
        f"observed metric {name!r} did not arrive within "
        f"{OBSERVED_METRIC_TIMEOUT_S:g} s; the action it observes has not "
        "run, or ran on a path that does not collect observed metrics"
    )


def column_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, vmin, vmax): the ANALYZE-
    style per-column profile every ingestion pipeline runs before
    trusting a new drop — null rates, cardinalities, numeric/date
    ranges — computed in ONE aggregation pass over ONE scan (the same
    single-pass discipline as quality_counts: k columns never mean k
    jobs).  vmin/vmax are doubles for numeric and date columns (dates
    as epoch days — a cross-engine-stable numeric; string formatting of
    doubles/timestamps is NOT engine-stable, so string columns profile
    nulls/cardinality only and range comes back NULL).

    100 TB note: n_distinct here is exact (count distinct compiles to
    one Expand + partial aggregation — k× the scan's rows through the
    shuffle, fine for profiling runs); swap in approx_count_distinct
    (HLL++, fixed memory, one pass) when profiling petabyte drops where
    the exact expand is not worth it — same output shape.
    """
    from pyspark.sql.types import (
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    cols = columns or df.columns
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        # backtick-quote the reference: a bare dotted name would resolve
        # as a struct-field path
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.count(F.lit(1)).alias(f"{c}__rows"))
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(col).alias(f"{c}__distinct"))
        if isinstance(dt, NumericType):
            num = col.cast("double")
        elif isinstance(dt, DateType):
            num = F.datediff(col, F.lit("1970-01-01")).cast("double")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            # whole epoch seconds (truncation is monotonic, so min/max
            # commute with it — and integer seconds are cross-engine
            # exact where fractional epoch() doubles are not); NTZ casts
            # through the UTC session timezone, matching DuckDB's
            # naive-as-UTC epoch()
            num = F.unix_timestamp(col.cast("timestamp")).cast("double")
        else:
            num = F.lit(None).cast("double")
        aggs.append(F.min(num).alias(f"{c}__min"))
        aggs.append(F.max(num).alias(f"{c}__max"))
    wide = df.agg(*aggs)
    # identifiers backtick-quoted (and name literals escaped) so columns
    # with dots/spaces/quotes profile like any other
    stack = ", ".join(
        "'{lit}', `{c}__rows`, `{c}__nulls`, `{c}__distinct`,"
        " `{c}__min`, `{c}__max`".format(lit=c.replace("'", "''"), c=c)
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS "
            "(column, n_rows, n_nulls, n_distinct, vmin, vmax)"
        )
    )


def column_profile_approx(
    df: DataFrame, columns: list[str] | None = None
) -> DataFrame:
    """Sketch-backed twin of :func:`column_profile` — same output shape
    ``(column, n_rows, n_nulls, n_distinct, vmin, vmax)`` with
    ``n_distinct`` estimated by the cross-engine-exact HyperLogLog of
    ``aggregates.hll_distinct`` (m = 256 md5-derived registers, exact
    BIGINT harmonic denominator, quantized-ln linear counting) instead
    of the exact COUNT(DISTINCT).

    Why it exists: the exact profile's count-distinct compiles to an
    Expand — k columns push k× the scan's rows through the shuffle,
    which measured 5.3×/decade into sf10 (SCALING.md). This twin's
    shuffle is (column × 257 buckets) fixed-size register maxima after
    map-side combine — the petabyte-drop profiling shape, and still
    hash-checkable because every register is a pure md5 function.

    Value canonicalization before hashing (the part that keeps the
    estimate engine-independent): integers/strings hash their exact
    string image, dates the ISO form, timestamps whole epoch seconds,
    and FRACTIONAL columns a DECIMAL(28,6) image — distinct values
    closer than 1e-6 collapse to one (profiling semantics; document
    grids, don't format doubles: double→string is not engine-stable).
    Non-finite and decimal-overflow doubles are REAL values, not nulls:
    NaN/±Inf hash fixed sentinel strings, |x| in [1e22, 1e38) hashes an
    exact DECIMAL(38,0) image (such doubles are integers — ulp > 1), and
    the astronomically-rare |x| ≥ 1e38 collapses per sign to one
    'overflow±' sentinel (documented grid limit, mirrored in the DuckDB
    oracle). vmin/vmax/null semantics match column_profile exactly.
    """
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        FractionalType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)
    cols = columns or df.columns
    pieces = []
    for c in cols:
        dt = df.schema[c].dataType
        col = F.col("`" + c.replace("`", "``") + "`")
        if isinstance(dt, FractionalType):
            # NaN/Inf/overflow would cast to NULL (and DuckDB would
            # error), silently inflating n_nulls — canonicalize them to
            # engine-stable sentinel images instead
            d = col.cast("double")
            hk = (
                F.when(col.isNull(), F.lit(None).cast("string"))
                .when(F.isnan(d), F.lit("NaN"))
                .when(d == float("inf"), F.lit("Infinity"))
                .when(d == float("-inf"), F.lit("-Infinity"))
                .when(
                    (F.abs(d) >= 1e22) & (F.abs(d) < 1e38),
                    d.cast("decimal(38,0)").cast("string"),
                )
                .when(F.abs(d) >= 1e38,
                      F.when(d > 0, F.lit("overflow+")).otherwise(
                          F.lit("overflow-")))
                .otherwise(col.cast("decimal(28,6)").cast("string"))
            )
        elif isinstance(dt, DateType):
            hk = col.cast("string")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            hk = F.unix_timestamp(col.cast("timestamp")).cast("string")
        elif isinstance(dt, BooleanType):
            hk = col.cast("string")
        else:
            hk = col.cast("string")
        if isinstance(dt, NumericType):
            num = col.cast("double")
        elif isinstance(dt, DateType):
            num = F.datediff(col, F.lit("1970-01-01")).cast("double")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            num = F.unix_timestamp(col.cast("timestamp")).cast("double")
        else:
            num = F.lit(None).cast("double")
        pieces.append(
            F.struct(
                F.lit(c).alias("column"),
                hk.alias("hk"),
                num.alias("vnum"),
            )
        )
    # one projection explodes each row into k (column, value) cells —
    # map-side combine collapses them to (column, bucket) registers
    # before anything shuffles
    cells = df.select(
        F.explode(F.array(*pieces)).alias("cell")
    ).select("cell.column", "cell.hk", "cell.vnum")
    h = F.md5(F.col("hk"))
    bucket = F.when(
        F.col("hk").isNull(), F.lit(None).cast("int")
    ).otherwise(F.conv(F.substring(h, 1, 2), 16, 10).cast("int"))
    v = F.conv(F.substring(h, 3, 11), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(45)).otherwise(
        45 - F.length(F.conv(v.cast("string"), 10, 2))
    )
    lvl1 = (
        cells.select(
            "column",
            bucket.alias("bucket"),
            F.when(F.col("hk").isNull(), None).otherwise(rho).alias("rho"),
            "vnum",
        )
        .groupBy("column", "bucket")
        .agg(
            F.max("rho").alias("r"),
            F.count(F.lit(1)).alias("cnt"),
            F.min("vnum").alias("mn"),
            F.max("vnum").alias("mx"),
        )
    )
    used = F.col("bucket").isNotNull()
    per_col = lvl1.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(used, F.lit(0)).otherwise(F.col("cnt"))).alias("n_nulls"),
        F.count(F.when(used, F.lit(1))).alias("n_used"),
        F.sum(
            F.when(used, F.expr("shiftleft(CAST(1 AS BIGINT), 45 - r)"))
        ).alias("s_used"),
        F.min("mn").alias("vmin"),
        F.max("mx").alias("vmax"),
    )
    zeros = F.lit(m) - F.col("n_used")
    s = F.coalesce(F.col("s_used"), F.lit(0)) + zeros.cast("long") * F.lit(
        1 << 45
    )
    raw = F.lit(alpha * m * m * float(1 << 45)) / s.cast("double")
    linear = F.round(F.log(F.lit(float(m)) / zeros.cast("double")), 6) * m
    est = F.when(F.col("n_used") == 0, F.lit(0.0)).otherwise(
        F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    )
    return per_col.select(
        "column",
        "n_rows",
        F.coalesce(F.col("n_nulls"), F.lit(0)).alias("n_nulls"),
        F.round(est, 4).alias("n_distinct_approx"),
        "vmin",
        "vmax",
    )
