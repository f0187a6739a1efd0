"""Cohort retention analysis over event streams.

Entities cohort by their FIRST-SEEN day; retention at offset d is the
fraction of a cohort's entities active again exactly d days after the
cohort day — the standard growth-analytics matrix (cohort x day-offset).

Plan shape:
1. first-seen day per entity: one ``groupBy(entity).min(day)``.
2. activity pairs: events join the (broadcast-or-shuffle, AQE decides)
   cohort relation on entity; distinct (cohort_day, offset, entity)
   collapses multiple same-day events BEFORE the final count — the
   distinct is the second and last shuffle.
3. cohort sizes come from the cohort relation itself (offset 0 rows),
   not a third scan.

Determinism: day arithmetic on date-truncated epochs is exact; the
retention ratio is one fixed double division, ROUND6'd.

Scale notes (100 TB): both shuffles key on entity/cohort pairs —
map-side combine bounds hot entities; the cohort relation is
|entities| rows (broadcastable for bounded user bases). Offsets are
data-defined; cap with ``max_offset`` to bound output and state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

RETENTION_COLS = [
    "cohort_day", "day_offset", "n_active", "cohort_size", "retention",
]


def cohort_retention(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = 30,
) -> DataFrame:
    """(cohort_day, day_offset, n_active, cohort_size, retention) for
    every (cohort, offset) with >= 1 active entity."""
    days = events.where(F.col(ts_col).isNotNull()).select(
        F.col(entity_col).alias("u"),
        F.to_date(F.col(ts_col)).alias("day"),
    )
    cohorts = days.groupBy("u").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        days.join(cohorts, "u")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
            "u",
        )
        .distinct()
    )
    if max_offset is not None:
        active = active.where(F.col("day_offset") <= max_offset)
    counts = active.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    ratio = "cast(n_active AS double) / cast(cohort_size AS double)"
    return (
        counts.join(F.broadcast(sizes), "cohort_day")
        .selectExpr(
            "cast(cohort_day AS string) AS cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            f"cast({ROUND6.format(x=ratio)} AS double) AS retention",
        )
        .select(*RETENTION_COLS)
    )


def cohort_retention_sql(
    table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = 30,
) -> str:
    """DuckDB mirror (date_diff days, same distinct-then-count shape)."""
    cap = (
        f"WHERE day_offset <= {max_offset}" if max_offset is not None else ""
    )
    ratio = "CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)"
    return f"""
WITH days AS (
  SELECT {entity_col} AS u, CAST({ts_col} AS DATE) AS day
  FROM {table} WHERE {ts_col} IS NOT NULL
),
cohorts AS (SELECT u, MIN(day) AS cohort_day FROM days GROUP BY u),
sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM cohorts GROUP BY cohort_day),
active AS (
  SELECT DISTINCT c.cohort_day,
    date_diff('day', c.cohort_day, d.day) AS day_offset, d.u
  FROM days d JOIN cohorts c ON d.u = c.u
),
counts AS (
  SELECT cohort_day, day_offset, count(*) AS n_active
  FROM active {cap} GROUP BY cohort_day, day_offset
)
SELECT CAST(counts.cohort_day AS VARCHAR) AS cohort_day, day_offset,
  n_active, cohort_size,
  CAST({ROUND6.format(x=ratio)} AS DOUBLE) AS retention
FROM counts JOIN sizes ON counts.cohort_day = sizes.cohort_day
"""
