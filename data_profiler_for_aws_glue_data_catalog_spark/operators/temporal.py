"""Temporal seasonality profile: activity by hour-of-day / day-of-week.

The load-shape view every event table gets charted into: event counts
(and a value sum) bucketed by hour-of-day (0-23) and day-of-week
(1=Sunday..7, Spark ``dayofweek`` convention), with fractions of total.
Reveals batch-job spikes, missing overnight data, weekend gaps.

Plan shape: map-side bucket extraction, ONE groupBy over <= 31 keys
(24 hours + 7 days via a dimension tag), totals by window sum over the
tiny result. Value sums accumulate in DECIMAL(27,6) (order-free).

Scale notes (100 TB): single combine-friendly shuffle with bounded key
space — the cheapest distributed profile there is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

TEMPORAL_COLS = ["dimension", "bucket", "n_events", "frac", "value_sum"]


def temporal_profile(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = "value",
) -> DataFrame:
    """(dimension in {'hour','dow'}, bucket, n_events, frac, value_sum)."""
    # domain-guarded value sum (scan_metrics policy): NaN/±Inf or
    # |v| >= 1e21 in a bucket switches that bucket to the IEEE double
    # sum — ANSI cast-to-decimal would throw on specials, try_cast would
    # silently drop them. r8 float-specials axis find.
    vs = (
        f"CASE WHEN coalesce(max(abs(cast(`{value_col}` AS double))) < 1e21, true) "
        f"THEN cast(sum(try_cast(`{value_col}` AS decimal(27,6))) AS double) "
        f"ELSE sum(cast(`{value_col}` AS double)) END"
        if value_col
        else "cast(0.0 AS double)"
    )
    base = df.where(F.col(ts_col).isNotNull())
    buckets = base.selectExpr(
        f"inline(array("
        f"named_struct('dimension', 'hour', 'bucket', hour(`{ts_col}`)),"
        f"named_struct('dimension', 'dow', 'bucket', dayofweek(`{ts_col}`))"
        f"))",
        *( [f"`{value_col}`"] if value_col else [] ),
    )
    counts = buckets.groupBy("dimension", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(vs).alias("value_sum"),
    )
    wd = Window.partitionBy("dimension")
    frac = "cast(n_events AS double) / cast(n_dim AS double)"
    return (
        counts.withColumn("n_dim", F.sum("n_events").over(wd))
        .selectExpr(
            "dimension", "bucket", "n_events",
            f"cast({ROUND6.format(x=frac)} AS double) AS frac",
            "value_sum",
        )
        .select(*TEMPORAL_COLS)
    )


def temporal_profile_sql(
    table: str, ts_col: str = "ts", value_col: str | None = "value"
) -> str:
    """DuckDB mirror. DuckDB dayofweek() is 0=Sunday..6; +1 aligns it to
    Spark's 1=Sunday..7 convention."""
    vs = (
        f"CASE WHEN COALESCE(MAX(ABS(CAST({value_col} AS DOUBLE))) < 1e21, TRUE) "
        f"THEN CAST(SUM(CAST((CASE WHEN ABS(CAST({value_col} AS DOUBLE)) < 1e21 "
        f"THEN {value_col} END) AS DECIMAL(27,6))) AS DOUBLE) "
        f"ELSE SUM(CAST({value_col} AS DOUBLE)) END"
        if value_col
        else "CAST(0.0 AS DOUBLE)"
    )
    val = f", {value_col}" if value_col else ""
    frac = "CAST(n_events AS DOUBLE) / CAST(n_dim AS DOUBLE)"
    return f"""
WITH buckets AS (
  SELECT 'hour' AS dimension, hour({ts_col}) AS bucket{val}
  FROM {table} WHERE {ts_col} IS NOT NULL
  UNION ALL
  SELECT 'dow' AS dimension, dayofweek({ts_col}) + 1 AS bucket{val}
  FROM {table} WHERE {ts_col} IS NOT NULL
),
counts AS (
  SELECT dimension, bucket, COUNT(*) AS n_events, {vs} AS value_sum
  FROM buckets GROUP BY 1, 2
)
SELECT dimension, CAST(bucket AS INT) AS bucket, n_events,
  CAST({ROUND6.format(x=frac)} AS DOUBLE) AS frac,
  value_sum
FROM (
  SELECT *, SUM(n_events) OVER (PARTITION BY dimension) AS n_dim FROM counts
)
"""
