"""IQR (Tukey-fence) outlier detection per numeric column.

Classic box-plot rule: values outside
``[Q1 - k*IQR, Q3 + k*IQR]`` (k = 1.5 by default) are outliers.
Output per column:
(column, q1, q3, lower_fence, upper_fence, n_values, n_below, n_above,
 n_outliers, outlier_rate).

Plan shape: TWO scans, ZERO shuffles —
1. one fused aggregate computes exact percentile(col, [.25,.75]) for
   EVERY column in a single 1-row job;
2. the 1-row fence frame broadcast-cross-joins a second fused aggregate
   that counts below/above per column in one pass.
No per-column jobs, no data-sized shuffle at any scale.

Determinism: exact percentiles, and the fences are ROUND6'd in BOTH
engines before the comparison — the comparison operates on identical
doubles, so counts are bit-reproducible (at the documented cost that a
value within 5e-7 of a fence classifies by the rounded fence).

Scale notes (100 TB): exact percentile state is O(n) per column in ONE
aggregation buffer — at 100 TB that is an executor OOM, not a slowdown.
The DEFAULT is therefore ``exact=False`` (percentile_approx: bounded
GK-sketch state, same call shape); pass ``exact=True`` only when the
result must be bit-deterministic against an exact oracle (the
registered correctness queries pin it, at sf0.01 where O(n) is trivial).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_ident

OUTLIER_COLS = [
    "column", "q1", "q3", "lower_fence", "upper_fence",
    "n_values", "n_below", "n_above", "n_outliers", "outlier_rate",
]


def iqr_outliers(
    df: DataFrame,
    columns: list[str],
    k: float = 1.5,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """One row per column with fences + outlier counts (nulls ignored)."""
    if not columns:
        raise ValueError("iqr_outliers: need at least one column")
    fn = "percentile" if exact else "percentile_approx"
    extra = "" if exact else f", {accuracy}"
    fences = df.selectExpr(
        *[
            e
            for i, c in enumerate(columns)
            for e in (
                f"cast({ROUND6.format(x=f'{fn}({sql_ident(c)}, 0.25{extra})')} AS double) AS q1_{i}",
                f"cast({ROUND6.format(x=f'{fn}({sql_ident(c)}, 0.75{extra})')} AS double) AS q3_{i}",
            )
        ]
    ).selectExpr(
        *[
            e
            for i in range(len(columns))
            for e in (
                f"q1_{i}",
                f"q3_{i}",
                f"cast({ROUND6.format(x=f'q1_{i} - {k!r} * (q3_{i} - q1_{i})')} AS double) AS lo_{i}",
                f"cast({ROUND6.format(x=f'q3_{i} + {k!r} * (q3_{i} - q1_{i})')} AS double) AS hi_{i}",
            )
        ]
    )
    counted = df.crossJoin(F.broadcast(fences)).selectExpr(
        *[
            e
            for i, c in enumerate(columns)
            for e in (
                f"q1_{i}", f"q3_{i}", f"lo_{i}", f"hi_{i}",
                f"cast({sql_ident(c)} IS NOT NULL AS int) AS v_{i}",
                # coalesce: NULL value or NULL fence (all-null column)
                # counts as not-an-outlier — the oracle's CASE..ELSE 0
                f"cast(coalesce({sql_ident(c)} < lo_{i}, false) AS int) AS b_{i}",
                f"cast(coalesce({sql_ident(c)} > hi_{i}, false) AS int) AS a_{i}",
            )
        ]
    ).agg(
        *[
            a
            for i in range(len(columns))
            for a in (
                F.first(f"q1_{i}").alias(f"q1_{i}"),
                F.first(f"q3_{i}").alias(f"q3_{i}"),
                F.first(f"lo_{i}").alias(f"lo_{i}"),
                F.first(f"hi_{i}").alias(f"hi_{i}"),
                F.sum(f"v_{i}").alias(f"n_{i}"),
                F.sum(f"b_{i}").alias(f"nb_{i}"),
                F.sum(f"a_{i}").alias(f"na_{i}"),
            )
        ]
    )
    stack_args = ", ".join(
        f"'{c}', q1_{i}, q3_{i}, lo_{i}, hi_{i}, n_{i}, nb_{i}, na_{i}"
        for i, c in enumerate(columns)
    )
    unpivoted = counted.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column, q1, q3, lower_fence, upper_fence, n_values, n_below, n_above)"
    )
    rate = "try_divide(cast(n_below + n_above AS double), cast(n_values AS double))"
    return unpivoted.selectExpr(
        "column", "q1", "q3", "lower_fence", "upper_fence",
        "n_values", "n_below", "n_above",
        "n_below + n_above AS n_outliers",
        f"cast({ROUND6.format(x=rate)} AS double) AS outlier_rate",
    ).select(*OUTLIER_COLS)


def iqr_outliers_sql(table: str, columns: list[str], k: float = 1.5) -> str:
    """DuckDB mirror: quantile_cont == Spark's exact percentile; fences
    ROUND6'd identically before comparison."""
    fence_cols = ",\n    ".join(
        f"CAST({ROUND6.format(x=f'quantile_cont({c}, 0.25)')} AS DOUBLE) AS q1_{i},"
        f" CAST({ROUND6.format(x=f'quantile_cont({c}, 0.75)')} AS DOUBLE) AS q3_{i}"
        for i, c in enumerate(columns)
    )
    lo_hi = ",\n    ".join(
        f"q1_{i}, q3_{i},"
        f" CAST({ROUND6.format(x=f'q1_{i} - {k!r} * (q3_{i} - q1_{i})')} AS DOUBLE) AS lo_{i},"
        f" CAST({ROUND6.format(x=f'q3_{i} + {k!r} * (q3_{i} - q1_{i})')} AS DOUBLE) AS hi_{i}"
        for i in range(len(columns))
    )
    count_cols = ",\n    ".join(
        f"SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS n_{i},"
        f" SUM(CASE WHEN {c} < lo_{i} THEN 1 ELSE 0 END) AS nb_{i},"
        f" SUM(CASE WHEN {c} > hi_{i} THEN 1 ELSE 0 END) AS na_{i}"
        for i, c in enumerate(columns)
    )
    rate = "CAST(n_below + n_above AS DOUBLE) / CAST(n_values AS DOUBLE)"
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS "column", q1_{i} AS q1, q3_{i} AS q3,
  lo_{i} AS lower_fence, hi_{i} AS upper_fence, n_{i} AS n_values,
  nb_{i} AS n_below, na_{i} AS n_above FROM counted"""
        for i, c in enumerate(columns)
    )
    return f"""
WITH fences0 AS (
  SELECT
    {fence_cols}
  FROM {table}
),
fences AS (
  SELECT
    {lo_hi}
  FROM fences0
),
counted AS (
  SELECT
    {", ".join(f"MIN(q1_{i}) AS q1_{i}, MIN(q3_{i}) AS q3_{i}, MIN(lo_{i}) AS lo_{i}, MIN(hi_{i}) AS hi_{i}" for i in range(len(columns)))},
    {count_cols}
  FROM {table} CROSS JOIN fences
),
long AS (
{arms}
)
SELECT "column", q1, q3, lower_fence, upper_fence, n_values, n_below, n_above,
  n_below + n_above AS n_outliers,
  CAST({ROUND6.format(x=rate)} AS DOUBLE) AS outlier_rate
FROM long
"""


def winsorize(
    df: DataFrame,
    columns: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Clip each column to its [lower, upper] percentile bounds
    (winsorization — the standard heavy-tail taming transform before
    training/aggregation).

    Plan shape: ONE fused 1-row percentile aggregate for all columns,
    broadcast back via cross join, then a map-side least/greatest clip —
    two scans, zero shuffles, output schema identical to the input.

    Determinism: bounds are ROUND6'd in both engines (outliers.py
    contract), so the clip is bit-reproducible WHEN ``exact=True``; the
    default rides percentile_approx (bounded sketch state — the module
    scale note) and is sketch-grade.
    """
    if not columns:
        raise ValueError("winsorize: need at least one column")
    fn = "percentile" if exact else "percentile_approx"
    extra = "" if exact else f", {accuracy}"
    bounds = df.selectExpr(
        *[
            e
            for i, c in enumerate(columns)
            for e in (
                f"cast({ROUND6.format(x=f'{fn}({sql_ident(c)}, {lower!r}{extra})')} AS double) AS wlo_{i}",
                f"cast({ROUND6.format(x=f'{fn}({sql_ident(c)}, {upper!r}{extra})')} AS double) AS whi_{i}",
            )
        ]
    )
    clip = {
        c: f"cast(least(greatest(cast({sql_ident(c)} AS double), wlo_{i}), whi_{i}) AS double)"
        for i, c in enumerate(columns)
    }
    out_cols = [
        f"{clip[c]} AS {sql_ident(c)}" if c in clip else sql_ident(c)
        for c in df.columns
    ]
    return df.crossJoin(F.broadcast(bounds)).selectExpr(*out_cols)


def winsorize_sql(
    table: str,
    all_columns: list[str],
    columns: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
) -> str:
    """DuckDB mirror of winsorize (quantile_cont bounds, same clip)."""
    bound_cols = ",\n    ".join(
        f"CAST({ROUND6.format(x=f'quantile_cont({c}, {lower!r})')} AS DOUBLE) AS wlo_{i},"
        f" CAST({ROUND6.format(x=f'quantile_cont({c}, {upper!r})')} AS DOUBLE) AS whi_{i}"
        for i, c in enumerate(columns)
    )
    idx = {c: i for i, c in enumerate(columns)}
    out_cols = ", ".join(
        (
            f"CAST(LEAST(GREATEST(CAST({c} AS DOUBLE), wlo_{idx[c]}), whi_{idx[c]}) AS DOUBLE) AS {c}"
            if c in idx
            else c
        )
        for c in all_columns
    )
    return f"""
WITH bounds AS (
  SELECT
    {bound_cols}
  FROM {table}
)
SELECT {out_cols} FROM {table} CROSS JOIN bounds
"""


MAD_COLS = [
    "column", "median", "mad", "lower_fence", "upper_fence",
    "n_values", "n_outliers", "outlier_rate",
]


def mad_outliers(
    df: DataFrame,
    columns: list[str],
    k: float = 3.0,
    scale: float = 1.4826,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust (median/MAD) outlier detection — the heavy-tail-safe
    alternative to the IQR fences: values outside
    ``median ± k * scale * MAD`` with ``MAD = median(|x - median|)``
    (scale 1.4826 makes MAD consistent with sigma under normality,
    public statistics).

    Plan shape: THREE scans, ZERO shuffles — median per column (one
    fused 1-row agg), broadcast back for the |x - median| median
    (second fused agg), broadcast fences for the final count pass.
    Median and MAD are ROUND6'd BEFORE the fences derive from them, so
    both engines run the comparison on identical doubles when
    ``exact=True``; the default rides percentile_approx (bounded sketch
    state — the module scale note).
    """
    if not columns:
        raise ValueError("mad_outliers: need at least one column")
    fn = "percentile" if exact else "percentile_approx"
    extra = "" if exact else f", {accuracy}"
    med = df.selectExpr(
        *[
            f"cast({ROUND6.format(x=f'{fn}({sql_ident(c)}, 0.5{extra})')} AS double) AS med_{i}"
            for i, c in enumerate(columns)
        ]
    )
    mad_agg = df.crossJoin(F.broadcast(med)).selectExpr(
        *[f"first(med_{i}) AS med_{i}" for i in range(len(columns))],
        *[
            f"cast({ROUND6.format(x=f'{fn}(abs(cast({sql_ident(c)} AS double) - med_{i}), 0.5{extra})')} AS double) AS mad_{i}"
            for i, c in enumerate(columns)
        ],
    )
    fences = mad_agg.selectExpr(
        *[
            e
            for i in range(len(columns))
            for e in (
                f"med_{i}",
                f"mad_{i}",
                f"cast({ROUND6.format(x=f'med_{i} - {k!r} * {scale!r} * mad_{i}')} AS double) AS lo_{i}",
                f"cast({ROUND6.format(x=f'med_{i} + {k!r} * {scale!r} * mad_{i}')} AS double) AS hi_{i}",
            )
        ]
    )
    counted = df.crossJoin(F.broadcast(fences)).selectExpr(
        *[
            e
            for i, c in enumerate(columns)
            for e in (
                f"med_{i}", f"mad_{i}", f"lo_{i}", f"hi_{i}",
                f"cast({sql_ident(c)} IS NOT NULL AS int) AS v_{i}",
                f"cast(coalesce({sql_ident(c)} < lo_{i} OR {sql_ident(c)} > hi_{i}, false) AS int) AS o_{i}",
            )
        ]
    ).agg(
        *[
            a
            for i in range(len(columns))
            for a in (
                F.first(f"med_{i}").alias(f"med_{i}"),
                F.first(f"mad_{i}").alias(f"mad_{i}"),
                F.first(f"lo_{i}").alias(f"lo_{i}"),
                F.first(f"hi_{i}").alias(f"hi_{i}"),
                F.sum(f"v_{i}").alias(f"n_{i}"),
                F.sum(f"o_{i}").alias(f"no_{i}"),
            )
        ]
    )
    stack_args = ", ".join(
        f"'{c}', med_{i}, mad_{i}, lo_{i}, hi_{i}, n_{i}, no_{i}"
        for i, c in enumerate(columns)
    )
    rate = "try_divide(cast(n_outliers AS double), cast(n_values AS double))"
    return counted.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column, median, mad, lower_fence, upper_fence, n_values, n_outliers)"
    ).selectExpr(
        "column", "median", "mad", "lower_fence", "upper_fence",
        "n_values", "n_outliers",
        f"cast({ROUND6.format(x=rate)} AS double) AS outlier_rate",
    ).select(*MAD_COLS)


def mad_outliers_sql(
    table: str, columns: list[str], k: float = 3.0, scale: float = 1.4826
) -> str:
    """DuckDB mirror (quantile_cont medians; fences from the ROUNDED
    median/MAD, identical to the Spark chain)."""
    med_cols = ",\n    ".join(
        f"CAST({ROUND6.format(x=f'quantile_cont({c}, 0.5)')} AS DOUBLE) AS med_{i}"
        for i, c in enumerate(columns)
    )
    mad_cols = ",\n    ".join(
        f"MIN(med_{i}) AS med_{i},"
        f" CAST({ROUND6.format(x=f'quantile_cont(ABS(CAST({c} AS DOUBLE) - med_{i}), 0.5)')} AS DOUBLE) AS mad_{i}"
        for i, c in enumerate(columns)
    )
    fence_cols = ",\n    ".join(
        f"med_{i}, mad_{i},"
        f" CAST({ROUND6.format(x=f'med_{i} - {k!r} * {scale!r} * mad_{i}')} AS DOUBLE) AS lo_{i},"
        f" CAST({ROUND6.format(x=f'med_{i} + {k!r} * {scale!r} * mad_{i}')} AS DOUBLE) AS hi_{i}"
        for i in range(len(columns))
    )
    count_cols = ",\n    ".join(
        f"MIN(med_{i}) AS med_{i}, MIN(mad_{i}) AS mad_{i},"
        f" MIN(lo_{i}) AS lo_{i}, MIN(hi_{i}) AS hi_{i},"
        f" SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS n_{i},"
        f" SUM(CASE WHEN {c} < lo_{i} OR {c} > hi_{i} THEN 1 ELSE 0 END) AS no_{i}"
        for i, c in enumerate(columns)
    )
    rate = "CAST(n_outliers AS DOUBLE) / CAST(n_values AS DOUBLE)"
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS "column", med_{i} AS median, mad_{i} AS mad,
  lo_{i} AS lower_fence, hi_{i} AS upper_fence,
  n_{i} AS n_values, no_{i} AS n_outliers FROM counted"""
        for i, c in enumerate(columns)
    )
    return f"""
WITH med AS (
  SELECT
    {med_cols}
  FROM {table}
),
madt AS (
  SELECT
    {mad_cols}
  FROM {table} CROSS JOIN med
),
fences AS (
  SELECT
    {fence_cols}
  FROM madt
),
counted AS (
  SELECT
    {count_cols}
  FROM {table} CROSS JOIN fences
),
long AS (
{arms}
)
SELECT "column", median, mad, lower_fence, upper_fence, n_values, n_outliers,
  CAST({ROUND6.format(x=rate)} AS DOUBLE) AS outlier_rate
FROM long
"""
