"""Exact per-group quantiles: one shuffle, all value columns and points.

Segmented profiling (grouped_profile.py) covers the fused scalar metric
set per group; distribution questions ("p99 latency per event type",
"quantity quartiles per return flag") need per-group QUANTILES. This
operator computes exact linear-interpolated percentiles (SQL
``percentile_cont`` semantics — Spark ``percentile`` == DuckDB
``quantile_cont``) for every (group, value-column, point) in ONE
``groupBy(group)`` aggregation: P points x V columns ride the same
shuffle as percentile(col, array(points)) aggregates, then unpivot.

Determinism: exact percentile sorts the group's values — no sketch, no
partition-order dependence; interpolation is the same fixed double
expression in both engines, ROUND6'd.

Scale notes (100 TB): exact percentile state is O(group size) — right
when groups are bounded (status codes, categories). For huge groups
swap in percentile_approx (same call shape, bounded KLL/GK state,
rows-only checkable); the operator takes ``exact=False`` for that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_ident, sql_str

QUANT_COLS = ["group_value", "value_col", "p", "quantile"]


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_cols: list[str],
    points: list[float],
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """(group_value, value_col, p, quantile) — group_value is the group
    key cast to string; NULL groups profile like any other group."""
    if not value_cols or not points:
        raise ValueError("grouped_quantiles: need value columns and points")
    g = sql_ident(group_col)
    fn = "percentile" if exact else "percentile_approx"
    pts_sql = ", ".join(repr(float(p)) for p in points)
    aggs = []
    for i, c in enumerate(value_cols):
        extra = f", {accuracy}" if not exact else ""
        # order statistics are over FINITE values: Spark sorts NaN last
        # where DuckDB's quantile_cont poisons the whole result, and ±Inf
        # interpolation (0*inf) differs — stripping specials on both
        # sides is the one portable semantic. r8 float-specials axis.
        q = sql_ident(c)
        fin = (
            f"CASE WHEN isnan(cast({q} AS double)) "
            f"OR abs(cast({q} AS double)) = double('Infinity') "
            f"THEN NULL ELSE {q} END"
        )
        aggs.append(
            f"{fn}({fin}, array({pts_sql}){extra}) AS q_{i}"
        )
    from pyspark.sql import functions as F

    row = (
        df.selectExpr(
            f"cast({g} AS string) AS group_value",
            *[sql_ident(c) for c in value_cols],
        )
        .groupBy("group_value")
        .agg(*[F.expr(a) for a in aggs])
    )
    structs = []
    for i, c in enumerate(value_cols):
        for j, p in enumerate(points):
            structs.append(
                "named_struct("
                "'group_value', group_value, "
                f"'value_col', {sql_str(c)}, "
                f"'p', cast({float(p)!r} AS double), "
                f"'quantile', cast({ROUND6.format(x=f'element_at(q_{i}, {j + 1})')} AS double))"
            )
    return row.selectExpr(
        f"inline(array({', '.join(structs)}))"
    ).select(*QUANT_COLS)


def grouped_quantiles_sql(
    table: str, group_col: str, value_cols: list[str], points: list[float]
) -> str:
    """DuckDB mirror: quantile_cont per group, same unpivot."""
    sel = [f"CAST({group_col} AS VARCHAR) AS group_value"]
    for i, c in enumerate(value_cols):
        fin = (
            f"CASE WHEN isnan(CAST({c} AS DOUBLE)) "
            f"OR abs(CAST({c} AS DOUBLE)) = CAST('Infinity' AS DOUBLE) "
            f"THEN NULL ELSE {c} END"
        )
        for j, p in enumerate(points):
            sel.append(
                f"quantile_cont({fin}, {float(p)!r}) AS q_{i}_{j}"
            )
    inner = (
        f"SELECT {', '.join(sel)} FROM {table} "
        f"GROUP BY CAST({group_col} AS VARCHAR)"
    )
    parts = []
    for i, c in enumerate(value_cols):
        for j, p in enumerate(points):
            parts.append(
                f"SELECT group_value, '{c}' AS value_col, "
                f"CAST({float(p)!r} AS DOUBLE) AS p, "
                f"CAST({ROUND6.format(x=f'q_{i}_{j}')} AS DOUBLE) AS quantile "
                f"FROM inner_q"
            )
    return (
        f"WITH inner_q AS ({inner})\n" + "\nUNION ALL\n".join(parts)
    )
