"""Exact ROC AUC via the rank-sum (Mann–Whitney) identity.

The standard eval for any score the pipeline produces (quality scores,
dedup confidences, model outputs): ``AUC = (R_pos - P(P+1)/2) / (P*N)``
where ``R_pos`` is the sum of average ranks of the positives — exactly
the probability a random positive outranks a random negative, ties
counted half. No curve materialization, no threshold sweep.

Plan shape: one groupBy(score) frequency pass (carrying per-value
positive counts), cumulative counts via the ADAPTIVE distributed
prefix-sum helper (plans/partitioning.py — single-partition window only
for small distinct relations), then a 1-row reduce. Rank sums are
integer/half-integer arithmetic throughout — the final division is the
only floating op, so the statistic is engine-exact (ROUND6'd for the
contract anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

AUC_COLS = ["n_pos", "n_neg", "auc"]


def roc_auc(df: DataFrame, score_col: str, label: Column) -> DataFrame:
    """One-row (n_pos, n_neg, auc); NULL auc when a class is empty."""
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
        materialize,
        partitioned_prefix_sums,
    )

    base = df.where(F.col(score_col).isNotNull()).select(
        F.col(score_col).cast("double").alias("s"),
        label.cast("int").alias("y"),
    )
    freq = base.groupBy("s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    # freq feeds the adaptive count + cumsum + the final reduce (via
    # contrib): materialize once so the scan + grouped agg run once.
    freq = materialize(freq)
    cum = partitioned_prefix_sums(freq, "s", ["c"], pinned=True)
    # average rank of value s = cum_before + (c+1)/2; doubled to stay
    # integral: 2*avgrank = 2*(cum_c - c) + c + 1
    contrib = cum.select(
        (F.col("p") * (2 * (F.col("cum_c") - F.col("c")) + F.col("c") + 1)).alias(
            "r2"
        ),
        "p",
        "c",
    )
    agg = contrib.agg(
        F.sum("r2").alias("rr2"),
        F.sum("p").alias("np"),
        (F.sum("c") - F.sum("p")).alias("nn"),
    )
    auc = "(CAST(rr2 AS DOUBLE) / 2.0 - CAST(np AS DOUBLE) * (np + 1) / 2.0)" \
          " / (CAST(np AS DOUBLE) * nn)"
    return agg.selectExpr(
        "np AS n_pos",
        "nn AS n_neg",
        f"CASE WHEN np > 0 AND nn > 0 THEN "
        f"cast({ROUND6.format(x=auc)} AS double) END AS auc",
    )


def roc_auc_sql(table: str, score_col: str, label_sql: str) -> str:
    """DuckDB mirror of :func:`roc_auc` (same rank-sum arithmetic)."""
    auc = "(CAST(rr2 AS DOUBLE) / 2.0 - CAST(np AS DOUBLE) * (np + 1) / 2.0)" \
          " / (CAST(np AS DOUBLE) * nn)"
    return f"""
WITH base AS (
  SELECT CAST({score_col} AS DOUBLE) AS s,
    CASE WHEN {label_sql} THEN 1 ELSE 0 END AS y
  FROM {table} WHERE {score_col} IS NOT NULL
),
freq AS (SELECT s, COUNT(*) AS c, SUM(y) AS p FROM base GROUP BY s),
cum AS (
  SELECT s, c, p,
    SUM(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM freq
),
agg AS (
  SELECT SUM(p * (2 * (cum_c - c) + c + 1)) AS rr2,
    SUM(p) AS np, SUM(c) - SUM(p) AS nn
  FROM cum
)
SELECT np AS n_pos, nn AS n_neg,
  CASE WHEN np > 0 AND nn > 0
       THEN CAST({ROUND6.format(x=auc)} AS DOUBLE) END AS auc
FROM agg
"""
