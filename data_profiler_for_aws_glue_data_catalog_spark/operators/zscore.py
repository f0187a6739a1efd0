"""Per-group z-score normalization — the parametric feature transform.

Sibling of operators/rank_normalize.py (distribution-free percent
ranks): standardize a value column within each group to mean 0 /
population-std 1 — the transform that makes per-tenant or per-source
metrics comparable before thresholding, clustering, or model input.

Plan shape: ONE grouped aggregation builds per-group decimal-exact
moments (count, sum, sum of squares — the scan_metrics accumulation
policy, same overflow domain), broadcast back and applied map-side; the
data never shuffles (contrast the window formulation
``(x - avg(x) over w) / stddev(x) over w``, which shuffles the whole
table by group and holds each group in one task). Groups with zero
variance or a single row emit NULL z — flagging, not poisoning,
constant segments.

Determinism: mean and std come from the fixed decimal->double shapes
mirrored in the oracle; z is ROUND6'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

# Per-group domain guard (scan_metrics policy; r8 float-specials axis):
# a group containing NaN/±Inf or |v| >= 1e12 (the squares' decimal(18,6)
# domain) takes IEEE double moments instead — specials then propagate
# (NaN group -> NaN z/CI) instead of being silently dropped by try_cast,
# and the DuckDB mirror's decimal casts never see a special (they raise
# where Spark's try_cast yields NULL).
_GUARD = "1e12"
_IN_DOM = f"coalesce(_m < {_GUARD}, true)"
_STRIP = "CASE WHEN ABS(value) < 1e12 THEN value END"

ZSCORE_COLS = ["group_key", "id", "value", "z"]


def zscore_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """(group_key, id, value, z): within-group standardized values.

    z = (x - mean) / stddev_pop, NULL when the group is degenerate.
    """
    base = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("group_key"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("value"),
    )
    stats = base.groupBy("group_key").agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr("max(abs(value))").alias("_m"),
        F.expr(f"cast(sum(try_cast(value AS {SUM_DECIMAL})) AS double)").alias("_sd"),
        # squares accumulate in decimal(18,6) (the scan_metrics SQ_DECIMAL
        # convention: product decimal(37,12) stays inside precision 38)
        F.expr(
            "cast(sum(try_cast(value AS decimal(18,6))"
            " * try_cast(value AS decimal(18,6))) AS double)"
        ).alias("_s2d"),
        F.expr("sum(value)").alias("_si"),
        F.expr("sum(value * value)").alias("_s2i"),
    )
    s = f"(CASE WHEN {_IN_DOM} THEN _sd ELSE _si END)"
    s2 = f"(CASE WHEN {_IN_DOM} THEN _s2d ELSE _s2i END)"
    mean = f"({s} / _n)"
    var = f"greatest({s2} / _n - {mean} * {mean}, 0.0)"
    z = f"try_divide(value - {mean}, sqrt({var}))"
    return (
        base.join(F.broadcast(stats), "group_key")
        .selectExpr(
            "group_key",
            "id",
            "value",
            f"CASE WHEN _n > 1 AND {var} > 0.0 THEN "
            f"cast({ROUND6.format(x=z)} AS double) END AS z",
        )
    )


def zscore_normalize_sql(
    table: str, value_col: str, group_col: str, id_col: str
) -> str:
    """DuckDB mirror of :func:`zscore_normalize` (same moment shapes and
    per-group domain guard; decimal-cast arguments strip out-of-domain
    values — only the IEEE branch is USED for such groups)."""
    s = f"(CASE WHEN {_IN_DOM} THEN _sd ELSE _si END)"
    s2 = f"(CASE WHEN {_IN_DOM} THEN _s2d ELSE _s2i END)"
    mean = f"({s} / _n)"
    var = f"greatest({s2} / _n - {mean} * {mean}, 0.0)"
    z = f"(value - {mean}) / nullif(sqrt({var}), 0.0)"
    return f"""
WITH base AS (
  SELECT CAST({group_col} AS VARCHAR) AS group_key, {id_col} AS id,
    CAST({value_col} AS DOUBLE) AS value
  FROM {table}
  WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
),
stats AS (
  SELECT group_key, COUNT(*) AS _n,
    MAX(ABS(value)) AS _m,
    CAST(SUM(TRY_CAST({_STRIP} AS DECIMAL(27,6))) AS DOUBLE) AS _sd,
    CAST(SUM(CAST(TRY_CAST({_STRIP} AS DECIMAL(18,6)) AS DECIMAL(19,6))
           * CAST(TRY_CAST({_STRIP} AS DECIMAL(18,6)) AS DECIMAL(19,6)))
         AS DOUBLE) AS _s2d,
    SUM(value) AS _si,
    SUM(value * value) AS _s2i
  FROM base GROUP BY group_key
)
SELECT b.group_key, b.id, b.value,
  CASE WHEN _n > 1 AND {var} > 0.0
       THEN CAST({ROUND6.format(x=z)} AS DOUBLE) END AS z
FROM base b JOIN stats USING (group_key)
"""


AB_COLS = [
    "arm", "n", "mean", "ci_low", "ci_high"
]


def ab_compare(
    df: DataFrame,
    value_col: str,
    id_col: str,
    assign_rate: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Deterministic A/B comparison scaffold: units assign to arms by the
    engine's id-hash split (reproducible, no assignment churn between
    analysis runs), each arm reports n / decimal-exact mean / normal 95%
    CI. Pair with ks_statistic / wasserstein_1d on the two arm frames
    for distributional tests — this is the topline means table.

    One scan, one grouped aggregate; the CI uses population variance
    from the same decimal moments as zscore_normalize.
    """
    from data_profiler_for_aws_glue_data_catalog_spark.operators.sampling import _threshold, hash_bucket

    arm = F.when(
        hash_bucket(F.col(id_col), seed) < _threshold(assign_rate), "treatment"
    ).otherwise("control")
    base = df.where(F.col(value_col).isNotNull()).select(
        arm.alias("arm"), F.col(value_col).cast("double").alias("value")
    )
    stats = base.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("max(abs(value))").alias("_m"),
        F.expr(f"cast(sum(try_cast(value AS {SUM_DECIMAL})) AS double)").alias("_sd"),
        F.expr(
            "cast(sum(try_cast(value AS decimal(18,6))"
            " * try_cast(value AS decimal(18,6))) AS double)"
        ).alias("_s2d"),
        F.expr("sum(value)").alias("_si"),
        F.expr("sum(value * value)").alias("_s2i"),
    )
    s = f"(CASE WHEN {_IN_DOM} THEN _sd ELSE _si END)"
    s2 = f"(CASE WHEN {_IN_DOM} THEN _s2d ELSE _s2i END)"
    mean = f"({s} / n)"
    var = f"greatest({s2} / n - {mean} * {mean}, 0.0)"
    half = f"(1.96 * sqrt({var}) / sqrt(cast(n AS double)))"
    return stats.selectExpr(
        "arm",
        "n",
        f"cast({ROUND6.format(x=mean)} AS double) AS mean",
        f"cast({ROUND6.format(x=f'{mean} - {half}')} AS double) AS ci_low",
        f"cast({ROUND6.format(x=f'{mean} + {half}')} AS double) AS ci_high",
    )


def ab_compare_sql(
    table: str,
    value_col: str,
    id_col: str,
    assign_rate: float = 0.5,
    seed: int = 0,
) -> str:
    """DuckDB mirror of :func:`ab_compare` (same hash assignment, same
    per-group domain guard with stripped decimal-cast arguments)."""
    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import _bucket_sql, _threshold

    s = f"(CASE WHEN {_IN_DOM} THEN _sd ELSE _si END)"
    s2 = f"(CASE WHEN {_IN_DOM} THEN _s2d ELSE _s2i END)"
    mean = f"({s} / n)"
    var = f"greatest({s2} / n - {mean} * {mean}, 0.0)"
    half = f"(1.96 * sqrt({var}) / sqrt(CAST(n AS DOUBLE)))"
    return f"""
WITH base AS (
  SELECT CASE WHEN {_bucket_sql(id_col, seed)} < {_threshold(assign_rate)}
         THEN 'treatment' ELSE 'control' END AS arm,
    CAST({value_col} AS DOUBLE) AS value
  FROM {table} WHERE {value_col} IS NOT NULL
),
stats AS (
  SELECT arm, COUNT(*) AS n,
    MAX(ABS(value)) AS _m,
    CAST(SUM(TRY_CAST({_STRIP} AS DECIMAL(27,6))) AS DOUBLE) AS _sd,
    CAST(SUM(CAST(TRY_CAST({_STRIP} AS DECIMAL(18,6)) AS DECIMAL(19,6))
           * CAST(TRY_CAST({_STRIP} AS DECIMAL(18,6)) AS DECIMAL(19,6)))
         AS DOUBLE) AS _s2d,
    SUM(value) AS _si,
    SUM(value * value) AS _s2i
  FROM base GROUP BY arm
)
SELECT arm, n,
  CAST({ROUND6.format(x=mean)} AS DOUBLE) AS mean,
  CAST({ROUND6.format(x=f'{mean} - {half}')} AS DOUBLE) AS ci_low,
  CAST({ROUND6.format(x=f'{mean} + {half}')} AS DOUBLE) AS ci_high
FROM stats
"""
