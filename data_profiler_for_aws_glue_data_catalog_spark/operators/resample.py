"""Time-series resampling: OHLC bucket aggregates + gap filling.

The time-series complement of streaming/windowed_profile.py (which
profiles quality metrics per window): downsample a value stream to
fixed buckets for dashboards/feature tables, and repair missing buckets
so downstream window math sees a dense series.

- ``resample_ohlc``: per (key, bucket) first/last/min/max/sum/count —
  "open/high/low/close" downsampling. One shuffle (the groupBy);
  first/last use ``min_by``/``max_by`` over (ts, id) so ties are
  deterministic, everything else is order-free. Decimal-accumulated
  sums (engine policy).
- ``fill_time_gaps``: per key, generate every bucket between the key's
  first and last (``sequence()`` — map-side explode of a per-key
  1-row frame), left-join the observed buckets, and forward-fill with
  ``last(value, ignorenulls)`` over the time window. The generated
  range is per KEY, not global, so a sparse key doesn't inflate to the
  table's full span. Scale notes (100 TB): the per-key window is the
  usual per-entity contract (a key's buckets fit one task); the
  explode is bucket-count-sized, not data-sized.

Both have exact DuckDB mirrors (generate_series == sequence; DuckDB's
``last_value IGNORE NULLS`` window == Spark's ``last(ignorenulls)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import SUM_DECIMAL

OHLC_COLS = [
    "key", "bucket_start", "open", "high", "low", "close", "vsum", "n"
]


def resample_ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    id_col: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """Downsample to (key, bucket_start, open, high, low, close, vsum, n).

    open/close = value at the earliest/latest (ts, id) in the bucket —
    deterministic under timestamp ties via the id tie-break.
    """
    base = df.where(
        F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.window(F.col(ts_col), bucket).getField("start").alias("bucket_start"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("double").alias("_v"),
    )
    order = F.struct(F.col("_ts"), F.col("_id"))
    return (
        base.groupBy("key", "bucket_start")
        .agg(
            F.min_by("_v", order).alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max_by("_v", order).alias("close"),
            # per-bucket domain guard (scan_metrics policy, r8 specials
            # axis): NaN/±Inf/huge buckets take the IEEE double sum
            F.expr(
                f"CASE WHEN coalesce(max(abs(_v)) < 1e21, true) "
                f"THEN cast(sum(try_cast(_v AS {SUM_DECIMAL})) AS double) "
                f"ELSE sum(_v) END"
            ).alias("vsum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(*OHLC_COLS)
    )


def resample_ohlc_sql(
    table: str,
    ts_col: str,
    value_col: str,
    key_col: str,
    id_col: str,
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB mirror (epoch-floored bucket == F.window start for
    epoch-aligned buckets; open/close via row_number ranks — DuckDB's
    arg_min lacks composite sort keys)."""
    return f"""
WITH base AS (
  SELECT CAST({key_col} AS VARCHAR) AS key,
    CAST(to_timestamp(CAST(floor(epoch({ts_col}) / {bucket_seconds}) AS BIGINT)
                 * {bucket_seconds}) AS TIMESTAMP) AS bucket_start,
    {ts_col} AS _ts, {id_col} AS _id, CAST({value_col} AS DOUBLE) AS _v
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
    AND {key_col} IS NOT NULL
),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY key, bucket_start
                       ORDER BY _ts ASC, _id ASC) AS rn_a,
    row_number() OVER (PARTITION BY key, bucket_start
                       ORDER BY _ts DESC, _id DESC) AS rn_d
  FROM base
)
SELECT key, bucket_start,
  MAX(CASE WHEN rn_a = 1 THEN _v END) AS open,
  MAX(_v) AS high,
  MIN(_v) AS low,
  MAX(CASE WHEN rn_d = 1 THEN _v END) AS close,
  CASE WHEN COALESCE(MAX(ABS(_v)) < 1e21, TRUE)
    THEN CAST(SUM(CAST((CASE WHEN ABS(_v) < 1e21 THEN _v END)
                       AS DECIMAL(27,6))) AS DOUBLE)
    ELSE SUM(_v) END AS vsum,
  COUNT(*) AS n
FROM ranked
GROUP BY key, bucket_start
"""


FILL_COLS = ["key", "bucket_start", "value", "is_filled"]


def fill_time_gaps(
    buckets: DataFrame,
    key_col: str = "key",
    bucket_col: str = "bucket_start",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Densify a (key, bucket, value) relation: emit every bucket between
    each key's first and last, forward-filling missing values.

    Output adds ``is_filled`` (true for generated rows). Buckets carry
    the key's last observed value; a key's leading gap cannot exist by
    construction (the range starts at its first observed bucket).
    """
    span = buckets.groupBy(F.col(key_col).alias("key")).agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    dense = span.select(
        "key",
        F.explode(
            F.sequence(
                F.col("_lo"), F.col("_hi"),
                F.expr(f"INTERVAL {bucket_seconds} SECONDS"),
            )
        ).alias("bucket_start"),
    )
    obs = buckets.select(
        F.col(key_col).alias("key"),
        F.col(bucket_col).alias("bucket_start"),
        F.col(value_col).alias("_obs"),
    )
    joined = dense.join(obs, ["key", "bucket_start"], "left_outer")
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "key",
        "bucket_start",
        F.last("_obs", ignorenulls=True).over(w).alias("value"),
        F.col("_obs").isNull().alias("is_filled"),
    )


def fill_time_gaps_sql(
    buckets_sql: str,
    key_col: str = "key",
    bucket_col: str = "bucket_start",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB mirror of :func:`fill_time_gaps`."""
    return f"""
WITH b AS ({buckets_sql}),
span AS (
  SELECT CAST({key_col} AS VARCHAR) AS key,
         MIN({bucket_col}) AS _lo, MAX({bucket_col}) AS _hi
  FROM b GROUP BY 1
),
dense AS (
  SELECT key, UNNEST(generate_series(_lo, _hi,
    INTERVAL {bucket_seconds} SECOND)) AS bucket_start
  FROM span
),
obs AS (
  SELECT CAST({key_col} AS VARCHAR) AS key, {bucket_col} AS bucket_start,
         {value_col} AS _obs
  FROM b
)
SELECT d.key, d.bucket_start,
  last_value(o._obs IGNORE NULLS) OVER (
    PARTITION BY d.key ORDER BY d.bucket_start
    ROWS UNBOUNDED PRECEDING) AS value,
  o._obs IS NULL AS is_filled
FROM dense d LEFT JOIN obs o
  ON d.key = o.key AND d.bucket_start = o.bucket_start
"""
