"""Calibration / lift curve: quantile-binned label rates for a score.

The model-eval screen over scored data: bin a score column into B
equal-population buckets (exact quantile edges), report each bucket's
observed positive rate and mean score — reading it answers "is the
score monotone in the label?" (lift) and "does score ~ rate?"
(calibration). Pure DataFrame composition of machinery the engine
already trusts: exact interpolated percentiles (grouped_quantiles
convention) for edges, conditional decimal means per bucket.

Plan shape: one pass for the B-1 edges (a TakeOrdered-free fused
percentile — the outliers.py shape), edges broadcast as a literal
array, bucket assignment map-side, one groupBy(bucket). Two scans,
one small shuffle.

Determinism: edges are exact order statistics (doubles from the data);
bucket boundaries compare doubles bit-exactly; rates and means are
int/decimal-exact with ROUND6 finishes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

CALIB_COLS = ["bucket", "n", "n_pos", "pos_rate", "mean_score"]


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label: Column,
    n_buckets: int = 10,
) -> DataFrame:
    """(bucket 0..B-1, n, n_pos, pos_rate, mean_score) — bucket b covers
    scores in (edge_{b-1}, edge_b] with exact type-7 (percentile_cont)
    quantile edges; the first bucket is unbounded below. Equal-population
    up to ties."""
    base = df.where(F.col(score_col).isNotNull()).select(
        F.col(score_col).cast("double").alias("s"),
        label.cast("int").alias("y"),
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges = base.agg(
        F.expr(
            f"percentile(s, array({', '.join(repr(p) for p in probs)}))"
        ).alias("e")
    ).first()["e"]
    bucket: Column = F.lit(0)
    for i, e in enumerate(edges):
        bucket = bucket + (F.col("s") > F.lit(float(e))).cast("int")
    binned = base.select(bucket.alias("bucket"), "s", "y")
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.expr(
                "cast(" + ROUND6.format(
                    x="CAST(sum(y) AS DOUBLE) / count(1)"
                ) + " AS double)"
            ).alias("pos_rate"),
            F.expr(
                "cast(" + ROUND6.format(
                    x="cast(sum(try_cast(s AS decimal(27,6))) AS double)"
                    " / count(1)"
                ) + " AS double)"
            ).alias("mean_score"),
        )
        .select(*CALIB_COLS)
    )


def calibration_curve_sql(
    table: str, score_col: str, label_sql: str, n_buckets: int = 10
) -> str:
    """DuckDB mirror: Spark-exact percentile edges (see
    ``oracle.spark_percentile_edges_select`` — quantile_cont rounds 1 ulp
    below Spark when both bracketing order statistics are equal, and the
    edge here is a raw ``>`` bucket boundary) and the same bucket
    comparison chain."""
    from data_profiler_for_aws_glue_data_catalog_spark.oracle import spark_percentile_edges_select

    probs = [i / n_buckets for i in range(1, n_buckets)]
    bucket = " + ".join(
        f"(CASE WHEN s > e[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(n_buckets - 1)
    )
    return f"""
WITH base AS (
  SELECT CAST({score_col} AS DOUBLE) AS s,
    CASE WHEN {label_sql} THEN 1 ELSE 0 END AS y
  FROM {table} WHERE {score_col} IS NOT NULL
),
edges AS ({spark_percentile_edges_select("base", "s", probs)}),
binned AS (
  SELECT ({bucket}) AS bucket, s, y FROM base CROSS JOIN edges
)
SELECT bucket, COUNT(*) AS n, SUM(y) AS n_pos,
  CAST({ROUND6.format(x='CAST(SUM(y) AS DOUBLE) / COUNT(*)')} AS DOUBLE)
    AS pos_rate,
  CAST({ROUND6.format(x=('CAST(SUM(CAST(s AS DECIMAL(27,6))) AS DOUBLE)'
                         ' / COUNT(*)'))} AS DOUBLE) AS mean_score
FROM binned GROUP BY bucket
"""
