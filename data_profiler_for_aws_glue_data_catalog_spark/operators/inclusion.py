"""Inclusion-dependency discovery: value-set overlap between column pairs.

Where ref_integrity.py VERIFIES a declared FK, this operator DISCOVERS
candidates: for (left table.column, right table.column) pairs, compare
the DISTINCT value sets —
(left_table, left_column, right_table, right_column, n_left, n_right,
 n_common, containment_lr, containment_rl, jaccard).
``containment_lr`` ~ 1.0 suggests left ⊆ right (left is FK-like into
right).

Plan shape (per pair): each side collapses to its distinct values
first (one combine-friendly shuffle each, |distinct| output), the two
aggregated sets full-outer-join on the value, and one tiny fused
aggregate derives all counts. Multiple pairs are independent branches
of one lazy union. Values compare as strings so cross-type pairs
(bigint key vs string code) are comparable by representation.

Scale notes (100 TB): the only data-sized work is the two distinct
aggregations; the join operands are key cardinalities (AQE broadcasts
the smaller set). Same aggregate-then-join discipline as
ref_integrity.py — no row-level table join ever happens.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

INCLUSION_COLS = [
    "left_table", "left_column", "right_table", "right_column",
    "n_left", "n_right", "n_common",
    "containment_lr", "containment_rl", "jaccard",
]


def inclusion_stats(
    left: DataFrame,
    left_col: str,
    right: DataFrame,
    right_col: str,
    left_name: str,
    right_name: str,
) -> DataFrame:
    """Distinct-set overlap metrics for one column pair (single row)."""
    lv = (
        left.select(F.col(left_col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
        .withColumn("in_l", F.lit(1))
    )
    rv = (
        right.select(F.col(right_col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
        .withColumn("in_r", F.lit(1))
    )
    joined = lv.join(rv, on="v", how="full_outer")
    agg = joined.agg(
        F.sum(F.coalesce(F.col("in_l"), F.lit(0))).alias("n_left"),
        F.sum(F.coalesce(F.col("in_r"), F.lit(0))).alias("n_right"),
        F.sum(
            F.when(
                F.col("in_l").isNotNull() & F.col("in_r").isNotNull(), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("n_common"),
    )
    lr = "cast(n_common AS double) / cast(n_left AS double)"
    rl = "cast(n_common AS double) / cast(n_right AS double)"
    jac = "cast(n_common AS double) / cast(n_left + n_right - n_common AS double)"
    return agg.selectExpr(
        f"'{left_name}' AS left_table",
        f"'{left_col}' AS left_column",
        f"'{right_name}' AS right_table",
        f"'{right_col}' AS right_column",
        "n_left", "n_right", "n_common",
        f"cast({ROUND6.format(x=lr)} AS double) AS containment_lr",
        f"cast({ROUND6.format(x=rl)} AS double) AS containment_rl",
        f"cast({ROUND6.format(x=jac)} AS double) AS jaccard",
    ).select(*INCLUSION_COLS)


def inclusion_matrix(
    spark: SparkSession,
    pairs: list[tuple[DataFrame, str, DataFrame, str, str, str]],
) -> DataFrame:
    """One row per pair, one lazy union (branches run concurrently)."""
    return reduce(
        DataFrame.unionByName, [inclusion_stats(*p) for p in pairs]
    )


def inclusion_stats_sql(
    left_table: str, left_col: str, right_table: str, right_col: str
) -> str:
    """DuckDB mirror of inclusion_stats."""
    lr = "CAST(n_common AS DOUBLE) / CAST(n_left AS DOUBLE)"
    rl = "CAST(n_common AS DOUBLE) / CAST(n_right AS DOUBLE)"
    jac = "CAST(n_common AS DOUBLE) / CAST(n_left + n_right - n_common AS DOUBLE)"
    return f"""
WITH lv AS (
  SELECT DISTINCT CAST({left_col} AS VARCHAR) AS v, 1 AS in_l
  FROM {left_table} WHERE {left_col} IS NOT NULL
),
rv AS (
  SELECT DISTINCT CAST({right_col} AS VARCHAR) AS v, 1 AS in_r
  FROM {right_table} WHERE {right_col} IS NOT NULL
),
agg AS (
  SELECT
    SUM(COALESCE(in_l, 0)) AS n_left,
    SUM(COALESCE(in_r, 0)) AS n_right,
    SUM(CASE WHEN in_l IS NOT NULL AND in_r IS NOT NULL THEN 1 ELSE 0 END)
      AS n_common
  FROM lv FULL OUTER JOIN rv USING (v)
)
SELECT '{left_table}' AS left_table, '{left_col}' AS left_column,
  '{right_table}' AS right_table, '{right_col}' AS right_column,
  n_left, n_right, n_common,
  CAST({ROUND6.format(x=lr)} AS DOUBLE) AS containment_lr,
  CAST({ROUND6.format(x=rl)} AS DOUBLE) AS containment_rl,
  CAST({ROUND6.format(x=jac)} AS DOUBLE) AS jaccard
FROM agg
"""
