"""Segment deviation ranking: which segment moves the metric most?

The drill-down after an aggregate looks off: per-segment mean of a
value column vs the overall mean, ranked by absolute relative
deviation. Complements grouped_profile (full per-segment metric sets)
with the one-screen "who's responsible" view.

Plan shape: ONE groupBy(segment) shuffle computes per-segment decimal
sums/counts; the overall row derives from the SEGMENT relation (sum of
sums), not a second scan, and broadcast-cross-joins back. Means are
DECIMAL(27,6)-accumulated -> order-free; deviations ROUND6'd.

Scale notes (100 TB): one combine-friendly shuffle over |segments|
keys; output is |segments| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

SEGMENT_DEV_COLS = [
    "segment", "n", "seg_mean", "overall_mean", "abs_diff", "rel_diff",
]


def segment_deviations(
    df: DataFrame, segment_col: str, value_col: str
) -> DataFrame:
    """(segment, n, seg_mean, overall_mean, abs_diff, rel_diff) per
    segment (NULL segments profile like any other; NULL values excluded
    from means)."""
    segs = df.groupBy(F.col(segment_col).cast("string").alias("segment")).agg(
        F.expr(f"sum(cast(`{value_col}` AS decimal(27,6)))").alias("s"),
        F.expr(f"count(`{value_col}`)").alias("n"),
    )
    overall = segs.agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt")
    )
    seg_mean = "cast(s AS double) / cast(n AS double)"
    overall_mean = "cast(st AS double) / cast(nt AS double)"
    return (
        segs.crossJoin(F.broadcast(overall))
        .selectExpr(
            "segment",
            "n",
            f"cast({ROUND6.format(x=seg_mean)} AS double) AS seg_mean",
            f"cast({ROUND6.format(x=overall_mean)} AS double) AS overall_mean",
            f"cast({ROUND6.format(x=f'abs(({seg_mean}) - ({overall_mean}))')} AS double) AS abs_diff",
            f"cast({ROUND6.format(x=f'abs(({seg_mean}) - ({overall_mean})) / abs({overall_mean})')} AS double) AS rel_diff",
        )
        .select(*SEGMENT_DEV_COLS)
    )


def segment_deviations_sql(
    table: str, segment_col: str, value_col: str
) -> str:
    """DuckDB mirror (same decimal accumulation and rounding)."""
    seg_mean = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    overall_mean = "CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)"
    return f"""
WITH segs AS (
  SELECT CAST({segment_col} AS VARCHAR) AS segment,
    SUM(CAST({value_col} AS DECIMAL(27,6))) AS s,
    COUNT({value_col}) AS n
  FROM {table} GROUP BY 1
),
overall AS (SELECT SUM(s) AS st, SUM(n) AS nt FROM segs)
SELECT segment, n,
  CAST({ROUND6.format(x=seg_mean)} AS DOUBLE) AS seg_mean,
  CAST({ROUND6.format(x=overall_mean)} AS DOUBLE) AS overall_mean,
  CAST({ROUND6.format(x=f"ABS(({seg_mean}) - ({overall_mean}))")} AS DOUBLE) AS abs_diff,
  CAST({ROUND6.format(x=f"ABS(({seg_mean}) - ({overall_mean})) / ABS({overall_mean})")} AS DOUBLE) AS rel_diff
FROM segs CROSS JOIN overall
"""


PARETO_COLS = [
    "key", "ksum", "share", "cum_share", "rank", "in_top80"
]


def pareto_analysis(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Concentration (80/20) analysis: per key its value share, the
    cumulative share in descending-contribution order, and whether the
    key belongs to the minimal prefix covering 80% of the total.

    One keyed shuffle builds decimal-exact key sums; the cumulative
    window runs over the DISTINCT-KEY relation (segment cardinality —
    small by construction for segment/tenant/source keys; for high-
    cardinality keys pair with topk.py instead). Deterministic order:
    contribution DESC, key ASC; shares are fixed-shape ROUND6 doubles.
    ``in_top80`` includes the boundary key that crosses 0.8 (ceiling
    semantics: the minimal covering prefix).
    """
    sums = (
        df.where(F.col(key_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(
            F.expr(
                f"cast(sum(try_cast({value_col} AS decimal(27,6))) AS double)"
            ).alias("ksum")
        )
    )
    tot = sums.agg(
        F.expr(
            "cast(sum(try_cast(ksum AS decimal(27,6))) AS double)"
        ).alias("_t")
    )
    w = Window.orderBy(F.desc("ksum"), F.asc("key")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wr = Window.orderBy(F.desc("ksum"), F.asc("key"))
    return (
        sums.crossJoin(F.broadcast(tot))
        .withColumn(
            "_cum",
            F.sum(F.expr("try_cast(ksum AS decimal(27,6))"))
            .over(w)
            .cast("double"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .selectExpr(
            "key",
            "ksum",
            f"cast({ROUND6.format(x='ksum / _t')} AS double) AS share",
            f"cast({ROUND6.format(x='_cum / _t')} AS double) AS cum_share",
            "rank",
            # minimal covering prefix: everything BEFORE this key covers
            # < 0.8 of the total
            f"cast({ROUND6.format(x='(_cum - ksum) / _t')} AS double) < 0.8"
            " AS in_top80",
        )
        .select(*PARETO_COLS)
    )


def pareto_analysis_sql(table: str, key_col: str, value_col: str) -> str:
    """DuckDB mirror of :func:`pareto_analysis`."""
    return f"""
WITH sums AS (
  SELECT CAST({key_col} AS VARCHAR) AS key,
    CAST(SUM(CAST({value_col} AS DECIMAL(27,6))) AS DOUBLE) AS ksum
  FROM {table}
  WHERE {key_col} IS NOT NULL AND {value_col} IS NOT NULL
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(ksum AS DECIMAL(27,6))) AS DOUBLE) AS _t FROM sums),
cum AS (
  SELECT key, ksum, _t,
    CAST(SUM(CAST(ksum AS DECIMAL(27,6))) OVER (
      ORDER BY ksum DESC, key ASC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      AS _cum,
    CAST(row_number() OVER (ORDER BY ksum DESC, key ASC) AS INT) AS rank
  FROM sums CROSS JOIN tot
)
SELECT key, ksum,
  CAST({ROUND6.format(x='ksum / _t')} AS DOUBLE) AS share,
  CAST({ROUND6.format(x='_cum / _t')} AS DOUBLE) AS cum_share,
  rank,
  CAST({ROUND6.format(x='(_cum - ksum) / _t')} AS DOUBLE) < 0.8 AS in_top80
FROM cum
"""
