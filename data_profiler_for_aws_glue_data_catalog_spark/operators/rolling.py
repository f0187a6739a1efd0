"""Time-range rolling aggregates per entity: RANGE-framed windows.

"7-day rolling average per user" is the canonical feature-engineering
window: for every event, aggregate the entity's events inside a
trailing time range (not a row count — gaps matter). Spark plans this
as a single WindowExec over one shuffle+sort per partition key:
``Window.partitionBy(entity).orderBy(epoch).rangeBetween(-seconds, 0)``.

Emitted per event: trailing-window count, exact-decimal sum, and mean.

Determinism: the frame sum accumulates DECIMAL over ROUND6'd values —
frame contents are set-determined (range frames have no peer-order
ambiguity) and decimal addition is order-invariant, so Spark's
incremental frame evaluation and DuckDB's both land on the identical
value; the mean finishes in one fixed double expression.

Scale notes (100 TB): one shuffle on the partition key + per-partition
sort — the minimal plan for any per-entity ordered computation; skewed
entities are a sort problem, not a join explosion (cap with AQE skew
handling or pre-bucket hot entities). RANGE frames evaluate
incrementally (slide, not recompute) in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

ROLLING_COLS = [
    "entity_id", "ts", "value", "w_count", "w_sum", "w_mean",
]


def rolling_stats(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 7 * 86400,
) -> DataFrame:
    """Per event: trailing ``window_seconds`` count/sum/mean of
    ``value_col`` over the same entity (current row included)."""
    vr = ROUND6.format(x=f"cast({value_col} AS double)")
    vd = f"try_cast({vr} AS {SUM_DECIMAL})"
    frame = (
        f"PARTITION BY {entity_col} ORDER BY cast({ts_col} AS long) "
        f"RANGE BETWEEN {window_seconds} PRECEDING AND CURRENT ROW"
    )
    # per-frame domain guard (scan_metrics policy): a frame containing
    # NaN/±Inf or |v| >= 1e21 switches to the IEEE double sum — the
    # decimal cast cannot represent those (Spark try_cast NULL-skips,
    # DuckDB's CAST raises) and IEEE propagates them absorbingly, so
    # the pick is partition-order-free. r8 float-specials axis find.
    m = f"max(abs(cast({value_col} AS double))) OVER ({frame})"
    dec_sum = f"cast(sum({vd}) OVER ({frame}) AS double)"
    ieee_sum = f"sum(cast({value_col} AS double)) OVER ({frame})"
    w_sum = (
        f"CASE WHEN coalesce({m} < 1e21, true) "
        f"THEN {dec_sum} ELSE {ieee_sum} END"
    )
    w_cnt = f"count({value_col}) OVER ({frame})"
    mean = f"{w_sum} / cast({w_cnt} AS double)"
    return df.selectExpr(
        f"{entity_col} AS entity_id",
        f"{ts_col} AS ts",
        f"cast({value_col} AS double) AS value",
        f"{w_cnt} AS w_count",
        f"{w_sum} AS w_sum",
        f"cast({ROUND6.format(x=mean)} AS double) AS w_mean",
    ).select(*ROLLING_COLS)


def rolling_stats_sql(
    table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_seconds: int = 7 * 86400,
) -> str:
    """DuckDB mirror: same epoch-seconds RANGE frame, same decimals,
    same per-frame domain guard (the decimal-cast argument additionally
    strips out-of-domain values to NULL — DuckDB CAST raises where Spark
    try_cast yields NULL; the stripped branch is only USED when the
    frame is fully in-domain)."""
    vr = ROUND6.format(x=f"CAST({value_col} AS DOUBLE)")
    strip = (
        f"CASE WHEN ABS(CAST({value_col} AS DOUBLE)) < 1e21 THEN {vr} END"
    )
    vd = f"CAST({strip} AS DECIMAL(27,6))"
    # floor(epoch()) mirrors Spark's truncating timestamp->long cast
    frame = (
        f"PARTITION BY {entity_col} ORDER BY CAST(floor(epoch({ts_col})) AS BIGINT) "
        f"RANGE BETWEEN {window_seconds} PRECEDING AND CURRENT ROW"
    )
    m = f"MAX(ABS(CAST({value_col} AS DOUBLE))) OVER ({frame})"
    dec_sum = f"CAST(SUM({vd}) OVER ({frame}) AS DOUBLE)"
    ieee_sum = f"SUM(CAST({value_col} AS DOUBLE)) OVER ({frame})"
    w_sum = (
        f"CASE WHEN COALESCE({m} < 1e21, TRUE) "
        f"THEN {dec_sum} ELSE {ieee_sum} END"
    )
    mean = f"({w_sum}) / CAST(COUNT({value_col}) OVER ({frame}) AS DOUBLE)"
    return f"""
SELECT {entity_col} AS entity_id, {ts_col} AS ts,
  CAST({value_col} AS DOUBLE) AS value,
  COUNT({value_col}) OVER ({frame}) AS w_count,
  {w_sum} AS w_sum,
  CAST({ROUND6.format(x=mean)} AS DOUBLE) AS w_mean
FROM {table}
"""
