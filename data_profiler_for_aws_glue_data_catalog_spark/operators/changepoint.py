"""Offline CUSUM mean-shift detection per entity.

Classic change-detection screen (Page 1954, public) for metric streams:
for each key, the cumulative deviation from the key's own mean,
``S_t = sum_{i<=t}(x_i) - t * mean``, peaks at the most likely mean-shift
point; a key whose ``max |S_t|`` is large relative to its scale changed
behavior mid-stream. Pairs with operators/anomaly.py (per-run metric
z-scores) and operators/trend.py (monotone drift) as the within-run
changepoint view.

Plan shape: one shuffle partitioning by key; per-key windows (time
order) compute the cumulative sums — embarrassingly parallel across
keys, no global sort, no driver loop. Skewed keys: a single key's rows
must fit one task's window (the usual per-entity window contract; salt
by time-chunk + merge for pathological keys).

Determinism: values try_cast to decimal(27,6) (6-dp half-up, the engine
policy); cumulative decimal sums are exact (order fixed by (ts, id));
``S_t`` is the fixed double shape decimal->double minus t*mean with mean
= decimal-sum/count; ROUND6 before the max/argmax so ranking is
bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

SHIFT_COLS = ["key", "n", "mean", "max_abs_cusum", "shift_at", "shift_pos"]


def mean_shift(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key CUSUM profile: (key, n, mean, max_abs_cusum, shift_at,
    shift_pos) — the timestamp/position of the strongest mean-shift
    candidate (ties -> earliest). ``id_col`` breaks timestamp ties so the
    cumulative order is total.
    """
    # out-of-domain observations (NaN/±Inf/|v| >= 1e21) are excluded like
    # NULLs: the exact-decimal cumulative sums cannot represent them
    # (try_cast would silently NULL them while row_number still counted
    # the row, skewing t*mean), and a CUSUM over specials is undefined —
    # they surface via the profile metrics instead. r8 specials-axis find.
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.expr(
            f"coalesce(abs(cast({value_col} AS double)) < 1e21, false)"
        )
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        F.expr(f"try_cast({value_col} AS {SUM_DECIMAL})").alias("_x"),
    )
    wk = (
        Window.partitionBy("key")
        .orderBy("_ts", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wfull = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = base.select(
        "key",
        "_ts",
        "_id",
        F.sum("_x").over(wk).cast("double").alias("_cum"),
        F.row_number()
        .over(Window.partitionBy("key").orderBy("_ts", "_id"))
        .alias("_t"),
        (F.sum("_x").over(wfull).cast("double") / F.count("_x").over(wfull)).alias(
            "_mean"
        ),
        F.count("_x").over(wfull).alias("_n"),
    )
    s = cum.withColumn(
        "_absS",
        F.expr(ROUND6.format(x="abs(_cum - _t * _mean)")),
    )
    pick = F.struct(
        (-F.col("_absS")).alias("negs"), F.col("_ts").alias("ts"), F.col("_id").alias("id")
    )
    return (
        s.groupBy("key")
        .agg(
            F.max("_n").alias("n"),
            # cast: ROUND6's decimal literal makes bigint/decimal division
            # DecimalType in Spark; the oracle's floor(double)/1e6 is DOUBLE.
            # Both are the 6-dp rational k/1e6, so double-cast is value-exact.
            F.expr(ROUND6.format(x="max(_mean)")).cast("double").alias("mean"),
            F.max("_absS").cast("double").alias("max_abs_cusum"),
            F.min_by("_ts", pick).alias("shift_at"),
            F.min_by("_t", pick).alias("shift_pos"),
        )
        .select(*SHIFT_COLS)
    )


def mean_shift_sql(
    table: str, ts_col: str, value_col: str, key_col: str, id_col: str
) -> str:
    """DuckDB mirror of :func:`mean_shift` (same windows, same rounding)."""
    r6 = lambda x: ROUND6.format(x=x)
    return f"""
WITH base AS (
  SELECT CAST({key_col} AS VARCHAR) AS key, {ts_col} AS _ts, {id_col} AS _id,
    CAST({value_col} AS DECIMAL(27,6)) AS _x
  FROM {table}
  WHERE {value_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {key_col} IS NOT NULL
    AND COALESCE(ABS(CAST({value_col} AS DOUBLE)) < 1e21, FALSE)
),
cum AS (
  SELECT key, _ts, _id,
    CAST(SUM(_x) OVER (PARTITION BY key ORDER BY _ts, _id
      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS _cum,
    CAST(row_number() OVER (PARTITION BY key ORDER BY _ts, _id) AS INT) AS _t,
    CAST(SUM(_x) OVER (PARTITION BY key) AS DOUBLE)
      / COUNT(_x) OVER (PARTITION BY key) AS _mean,
    COUNT(_x) OVER (PARTITION BY key) AS _n
  FROM base
),
s AS (
  SELECT *, {r6('ABS(_cum - _t * _mean)')} AS _absS FROM cum
)
SELECT key, MAX(_n) AS n, {r6('MAX(_mean)')} AS mean,
  MAX(_absS) AS max_abs_cusum,
  (SELECT _ts FROM s s2 WHERE s2.key = s.key
     ORDER BY _absS DESC, _ts ASC, _id ASC LIMIT 1) AS shift_at,
  (SELECT _t FROM s s2 WHERE s2.key = s.key
     ORDER BY _absS DESC, _ts ASC, _id ASC LIMIT 1) AS shift_pos
FROM s
GROUP BY key
"""
