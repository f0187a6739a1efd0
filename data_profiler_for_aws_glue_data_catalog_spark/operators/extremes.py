"""Extreme-row extraction: the k most anomalous rows per numeric column.

IQR outliers (outliers.py) counts tail rows; this returns the actual
offenders — the "show me the 20 weirdest records" drill-down. Per
column: z = (v - mean) / stddev_pop against deterministic
decimal-accumulated moments, top-k rows by |z| (ties by id).

Plan shape: ONE fused moments aggregate for all columns (decimal
sums/sum-of-squares, the scan_metrics discipline), broadcast back; the
map-side z projection feeds per-column ``orderBy().limit(k)`` top-k
branches (TakeOrderedAndProject — no global sort), one lazy union.

Determinism: mean/std ROUND6'd before the z division; z ROUND6'd;
(|z| DESC, id ASC) total order. Zero-variance columns produce no rows
(z undefined -> NULL -> filtered).

Scale notes (100 TB): two scans, zero data-sized shuffles; each top-k
reduces map-side to k rows per partition before the final k-merge.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

EXTREME_COLS = ["column", "id", "value", "zscore"]


def extreme_rows(
    df: DataFrame, id_col: str, columns: list[str], k: int = 20
) -> DataFrame:
    """Top-k (column, id, value, zscore) by |z| per column."""
    if not columns:
        raise ValueError("extreme_rows: no columns")
    moments = df.selectExpr(
        *[
            e
            for i, c in enumerate(columns)
            for e in (
                f"cast({ROUND6.format(x=f'cast(sum(try_cast(`{c}` AS decimal(27,6))) AS double) / count(`{c}`)')} AS double) AS mu_{i}",
                f"cast({ROUND6.format(x=(f'sqrt(greatest(cast(sum(try_cast(`{c}` AS decimal(18,6)) * try_cast(`{c}` AS decimal(18,6))) AS double) / count(`{c}`) - pow(cast(sum(try_cast(`{c}` AS decimal(27,6))) AS double) / count(`{c}`), 2), 0.0))'))} AS double) AS sd_{i}",
            )
        ]
    )
    with_stats = df.crossJoin(F.broadcast(moments))
    branches = []
    for i, c in enumerate(columns):
        z = f"(cast(`{c}` AS double) - mu_{i}) / sd_{i}"
        branch = (
            with_stats.where(F.col(c).isNotNull() & (F.col(f"sd_{i}") > 0))
            .selectExpr(
                f"'{c}' AS column",
                f"`{id_col}` AS id",
                f"cast(`{c}` AS double) AS value",
                f"cast({ROUND6.format(x=z)} AS double) AS zscore",
            )
            .orderBy(F.desc(F.abs(F.col("zscore"))), F.asc("id"))
            .limit(k)
        )
        branches.append(branch)
    return reduce(DataFrame.unionByName, branches).select(*EXTREME_COLS)


def extreme_rows_sql(
    table: str, id_col: str, columns: list[str], k: int = 20
) -> str:
    """DuckDB mirror: identical rounded moments and ordering."""
    arms = []
    for c in columns:
        sq = f"CAST(TRY_CAST({c} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
        mu = ROUND6.format(
            x=f"CAST(SUM(TRY_CAST({c} AS DECIMAL(27,6))) AS DOUBLE) / COUNT({c})"
        )
        sd = ROUND6.format(
            x=(
                f"SQRT(GREATEST(CAST(SUM({sq} * {sq}) AS DOUBLE) / COUNT({c})"
                f" - POW(CAST(SUM(TRY_CAST({c} AS DECIMAL(27,6))) AS DOUBLE) / COUNT({c}), 2), 0.0))"
            )
        )
        z = f"(CAST({c} AS DOUBLE) - mu) / sd"
        arms.append(f"""
SELECT '{c}' AS "column", {id_col} AS id, CAST({c} AS DOUBLE) AS value,
  CAST({ROUND6.format(x=z)} AS DOUBLE) AS zscore
FROM {table} CROSS JOIN (
  SELECT CAST({mu} AS DOUBLE) AS mu, CAST({sd} AS DOUBLE) AS sd FROM {table}
)
WHERE {c} IS NOT NULL AND sd > 0
ORDER BY ABS(CAST({ROUND6.format(x=z)} AS DOUBLE)) DESC, id ASC
LIMIT {k}""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({a})" for a in arms)
