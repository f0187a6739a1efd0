"""Per-entity linear trend fit (least-squares slope over time).

"Is this user's/metric's value drifting up?" — the OLS slope of value
against event time per entity:
slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept = (Sy - b*Sx)/n,
x = seconds since the entity's own first event (re-centering keeps
the accumulators small and the fit identical).

Determinism (the reason not to use built-in regr_slope, which sums
doubles in shuffle order): y is quantized to integer MICRO-UNITS
``yi = floor(y*1e6 + 0.5)`` — after that every accumulator is exact
integer arithmetic (x seconds are integers; the x*yi cross term rides
DECIMAL(19,0) x DECIMAL(19,0) so both engines do 128-bit integer
math), and the final slope/intercept are fixed double expressions of
those integers, ROUND6'd. Order-free by construction.

Plan shape: TWO entity-keyed shuffles — min(ts) for the re-center
origin (joined back, AQE decides broadcast), then one groupBy
accumulating the five sums. State per group is five numbers.

Scale notes (100 TB): both shuffles combine map-side; entities with
< 2 points or zero time spread emit NULL slope (try_divide/NULLIF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

TREND_COLS = ["entity", "n_points", "slope_per_day", "intercept"]


def trend_slopes(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(entity, n_points, slope_per_day, intercept) per entity."""
    # non-finite observations AND values beyond the 6-dp integer domain
    # (|v| >= 9e12, where yi = v*1e6 leaves BIGINT) are excluded like
    # NULLs: the quantization cannot represent them (Spark
    # floor(double)->BIGINT would silently saturate NaN to 0, ±Inf to
    # ±Long.Max, and 1e300 to Long.Max; the DuckDB mirror's BIGINT cast
    # raises) — a regression over such points is undefined anyway.
    # Found by the r8 float-specials axis, widened to huge finites by
    # the r9 palette extension; the bound matches the ROUND6 guard's.
    vd = f"cast(`{value_col}` AS double)"
    finite = F.expr(f"NOT (isnan({vd}) OR abs({vd}) >= 9.0e12)")
    base = df.where(
        F.col(entity_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & finite
    ).select(
        F.col(entity_col).alias("entity"),
        F.unix_timestamp(F.col(ts_col)).alias("xs"),
        F.expr(
            f"cast(floor(cast(`{value_col}` AS double) * 1000000.0 + 0.5) AS bigint)"
        ).alias("yi"),
    )
    origins = base.groupBy("entity").agg(F.min("xs").alias("x0"))
    centered = base.join(origins, "entity").select(
        "entity", (F.col("xs") - F.col("x0")).alias("x"), "yi"
    )
    sums = centered.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.expr("sum(cast(yi AS decimal(38,0)))").alias("sy_u"),
        F.expr(
            "sum(cast(x AS decimal(19,0)) * cast(yi AS decimal(19,0)))"
        ).alias("sxy_u"),
        F.expr("sum(cast(x AS decimal(19,0)) * cast(x AS decimal(19,0)))").alias(
            "sxx"
        ),
    )
    sy = "(cast(sy_u AS double) / 1000000.0)"
    sxy = "(cast(sxy_u AS double) / 1000000.0)"
    num = f"cast(n AS double) * {sxy} - cast(sx AS double) * {sy}"
    den = (
        "cast(n AS double) * cast(sxx AS double)"
        " - cast(sx AS double) * cast(sx AS double)"
    )
    slope = f"try_divide({num}, {den})"
    intercept = f"({sy} - ({slope}) * cast(sx AS double)) / cast(n AS double)"
    return sums.selectExpr(
        "entity",
        "n AS n_points",
        f"cast({ROUND6.format(x=f'({slope}) * 86400.0')} AS double) AS slope_per_day",
        f"cast({ROUND6.format(x=intercept)} AS double) AS intercept",
    ).select(*TREND_COLS)


def trend_slopes_sql(
    table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB mirror: same integer micro-unit accumulators."""
    sy = "(CAST(sy_u AS DOUBLE) / 1000000.0)"
    sxy = "(CAST(sxy_u AS DOUBLE) / 1000000.0)"
    num = f"CAST(n AS DOUBLE) * {sxy} - CAST(sx AS DOUBLE) * {sy}"
    den = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    slope = f"({num}) / NULLIF({den}, 0.0)"
    intercept = f"({sy} - ({slope}) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT {entity_col} AS entity,
    CAST(date_diff('second', TIMESTAMP '1970-01-01', {ts_col}) AS BIGINT) AS xs,
    CAST(FLOOR(CAST({value_col} AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS yi
  FROM {table}
  WHERE {entity_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {value_col} IS NOT NULL
    AND NOT (isnan(CAST({value_col} AS DOUBLE))
             OR abs(CAST({value_col} AS DOUBLE)) >= 9.0e12)
),
origins AS (SELECT entity, MIN(xs) AS x0 FROM base GROUP BY entity),
centered AS (
  SELECT b.entity, b.xs - o.x0 AS x, b.yi
  FROM base b JOIN origins o ON b.entity = o.entity
),
sums AS (
  SELECT entity, COUNT(*) AS n, SUM(x) AS sx,
    SUM(CAST(yi AS DECIMAL(38,0))) AS sy_u,
    SUM(CAST(x AS DECIMAL(19,0)) * CAST(yi AS DECIMAL(19,0))) AS sxy_u,
    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx
  FROM centered GROUP BY entity
)
SELECT entity, n AS n_points,
  CAST({ROUND6.format(x=f'({slope}) * 86400.0')} AS DOUBLE) AS slope_per_day,
  CAST({ROUND6.format(x=intercept)} AS DOUBLE) AS intercept
FROM sums
"""


WOW_COLS = [
    "key", "week_start", "n_events", "vsum", "prev_vsum", "wow_pct"
]


def period_over_period(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    bucket_seconds: int = 7 * 86400,
) -> DataFrame:
    """Period-over-period change per key: bucketed decimal sums + a lag
    window = the WoW/MoM dashboard column. wow_pct is NULL for a key's
    first bucket and when the previous sum is 0 (no sign-ambiguous
    division).

    One bucket-grouped shuffle; the lag runs over the tiny per-key
    bucket relation. Buckets are epoch-aligned (UTC) like every window
    in the engine.
    """
    base = df.where(
        F.col(ts_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("key"),
        (
            F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds)
            * bucket_seconds
        ).cast("long").alias("_wk"),
        F.col(value_col).alias("v"),
    )
    # per-bucket domain guard (scan_metrics policy, r8 specials axis):
    # buckets holding NaN/±Inf or |v| >= 1e21 take the IEEE double sum
    buck = base.groupBy("key", "_wk").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "CASE WHEN coalesce(max(abs(cast(v AS double))) < 1e21, true) "
            "THEN cast(sum(try_cast(v AS decimal(27,6))) AS double) "
            "ELSE sum(cast(v AS double)) END"
        ).alias("vsum"),
    )
    w = Window.partitionBy("key").orderBy("_wk")
    return (
        buck.withColumn("prev_vsum", F.lag("vsum").over(w))
        .selectExpr(
            "key",
            "timestamp_seconds(_wk) AS week_start",
            "n_events",
            "vsum",
            "prev_vsum",
            f"CASE WHEN prev_vsum IS NOT NULL AND prev_vsum <> 0.0 THEN "
            f"cast({ROUND6.format(x='100.0 * (vsum - prev_vsum) / prev_vsum')}"
            f" AS double) END AS wow_pct",
        )
    )


def period_over_period_sql(
    table: str,
    ts_col: str,
    value_col: str,
    key_col: str,
    bucket_seconds: int = 7 * 86400,
) -> str:
    """DuckDB mirror of :func:`period_over_period`."""
    return f"""
WITH base AS (
  SELECT CAST({key_col} AS VARCHAR) AS key,
    CAST(floor(floor(epoch({ts_col})) / {bucket_seconds}) AS BIGINT)
      * {bucket_seconds} AS _wk,
    {value_col} AS v
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    AND {value_col} IS NOT NULL
),
buck AS (
  SELECT key, _wk, COUNT(*) AS n_events,
    CASE WHEN COALESCE(MAX(ABS(CAST(v AS DOUBLE))) < 1e21, TRUE)
      THEN CAST(SUM(CAST((CASE WHEN ABS(CAST(v AS DOUBLE)) < 1e21 THEN v END)
                         AS DECIMAL(27,6))) AS DOUBLE)
      ELSE SUM(CAST(v AS DOUBLE)) END AS vsum
  FROM base GROUP BY key, _wk
),
lagged AS (
  SELECT *, LAG(vsum) OVER (PARTITION BY key ORDER BY _wk) AS prev_vsum
  FROM buck
)
SELECT key, CAST(to_timestamp(_wk) AS TIMESTAMP) AS week_start,
  n_events, vsum, prev_vsum,
  CASE WHEN prev_vsum IS NOT NULL AND prev_vsum <> 0.0 THEN
    CAST({ROUND6.format(x='100.0 * (vsum - prev_vsum) / prev_vsum')} AS DOUBLE)
  END AS wow_pct
FROM lagged
"""
