"""Inter-arrival time profile: the event-cadence distribution.

How regularly do events arrive per entity? The distribution of
consecutive-event gaps drives session-gap thresholds (sessions.py),
watermark sizing (streaming/) and staleness SLOs (freshness.py) —
this operator measures it instead of guessing:
(n_gaps, mean_gap_s, min_gap_s, max_gap_s, p50_gap_s, p90_gap_s,
 p99_gap_s) over per-entity consecutive gaps in seconds.

Plan shape: ONE window shuffle keyed by entity (lag over
(ts, id)-ordered events — deterministic under timestamp ties), then a
single fused aggregate over the gap column (exact percentiles ride the
same pass; DECIMAL-accumulated mean).

Scale notes (100 TB): the entity window is the only data-sized
shuffle — identical cost to sessionization, which shares its shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

INTERARRIVAL_COLS = [
    "n_gaps", "mean_gap_s", "min_gap_s", "max_gap_s",
    "p50_gap_s", "p90_gap_s", "p99_gap_s",
]


def interarrival_stats(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Single-row gap distribution (gaps in integer seconds, floored)."""
    w = Window.partitionBy(entity_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    gaps = (
        df.where(F.col(entity_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            (
                F.unix_timestamp(F.col(ts_col))
                - F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
            ).alias("gap")
        )
        .where(F.col("gap").isNotNull())
    )
    mean = (
        "cast(cast(sum(cast(gap AS decimal(27,6))) AS double)"
        " / count(gap) AS double)"
    )
    return gaps.selectExpr(
        "count(gap) AS n_gaps",
        f"cast({ROUND6.format(x=mean)} AS double) AS mean_gap_s",
        "min(gap) AS min_gap_s",
        "max(gap) AS max_gap_s",
        f"cast({ROUND6.format(x='percentile(gap, 0.5)')} AS double) AS p50_gap_s",
        f"cast({ROUND6.format(x='percentile(gap, 0.9)')} AS double) AS p90_gap_s",
        f"cast({ROUND6.format(x='percentile(gap, 0.99)')} AS double) AS p99_gap_s",
    ).select(*INTERARRIVAL_COLS)


def interarrival_stats_sql(
    table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror (same lag ordering; epoch-floored integer seconds)."""
    epoch = f"CAST(date_diff('second', TIMESTAMP '1970-01-01', {ts_col}) AS BIGINT)"
    mean = (
        "CAST(CAST(SUM(CAST(gap AS DECIMAL(27,6))) AS DOUBLE)"
        " / COUNT(gap) AS DOUBLE)"
    )
    return f"""
WITH gaps AS (
  SELECT {epoch} - LAG({epoch}) OVER (
      PARTITION BY {entity_col} ORDER BY {ts_col} ASC, {id_col} ASC
    ) AS gap
  FROM {table}
  WHERE {entity_col} IS NOT NULL AND {ts_col} IS NOT NULL
)
SELECT COUNT(gap) AS n_gaps,
  CAST({ROUND6.format(x=mean)} AS DOUBLE) AS mean_gap_s,
  MIN(gap) AS min_gap_s,
  MAX(gap) AS max_gap_s,
  CAST({ROUND6.format(x='quantile_cont(gap, 0.5)')} AS DOUBLE) AS p50_gap_s,
  CAST({ROUND6.format(x='quantile_cont(gap, 0.9)')} AS DOUBLE) AS p90_gap_s,
  CAST({ROUND6.format(x='quantile_cont(gap, 0.99)')} AS DOUBLE) AS p99_gap_s
FROM gaps WHERE gap IS NOT NULL
"""


LATE_COLS = ["key", "n", "n_late", "late_frac", "max_regression_s"]


def late_event_stats(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    id_col: str,
) -> DataFrame:
    """Out-of-order-arrival profile per key: a row is LATE when its event
    time is behind the running maximum over arrival order (``id_col`` as
    the arrival proxy). The watermark-sizing input for every streaming
    operator in this engine: ``max_regression_s`` is the smallest
    watermark delay that would have lost zero events.

    One shuffle (partition by key); the running max is a per-key ordered
    window. late_frac is a fixed-shape double (n_late/n).
    """
    w = (
        Window.partitionBy("key")
        .orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
    )
    flagged = base.select(
        "key",
        F.max("_ts").over(w).alias("_prevmax"),
        "_ts",
    ).select(
        "key",
        F.when(F.col("_prevmax") > F.col("_ts"), 1).otherwise(0).alias("_late"),
        F.when(
            F.col("_prevmax") > F.col("_ts"),
            F.unix_timestamp("_prevmax") - F.unix_timestamp("_ts"),
        ).otherwise(F.lit(0)).alias("_reg"),
    )
    return (
        flagged.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_late").alias("n_late"),
            (F.sum("_late").cast("double") / F.count(F.lit(1))).alias("late_frac"),
            F.max("_reg").alias("max_regression_s"),
        )
        .select(*LATE_COLS)
    )


def late_event_stats_sql(
    table: str, ts_col: str, key_col: str, id_col: str
) -> str:
    """DuckDB mirror of :func:`late_event_stats`."""
    return f"""
WITH base AS (
  SELECT CAST({key_col} AS VARCHAR) AS key, {id_col} AS _id, {ts_col} AS _ts
  FROM {table} WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
),
flagged AS (
  SELECT key,
    CASE WHEN _prevmax > _ts THEN 1 ELSE 0 END AS _late,
    CASE WHEN _prevmax > _ts
         THEN CAST(floor(epoch(_prevmax)) AS BIGINT)
              - CAST(floor(epoch(_ts)) AS BIGINT)
         ELSE 0 END AS _reg
  FROM (
    SELECT key, _ts,
      MAX(_ts) OVER (PARTITION BY key ORDER BY _id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _prevmax
    FROM base
  )
)
SELECT key, COUNT(*) AS n, SUM(_late) AS n_late,
  CAST(SUM(_late) AS DOUBLE) / COUNT(*) AS late_frac,
  MAX(_reg) AS max_regression_s
FROM flagged GROUP BY key
"""
