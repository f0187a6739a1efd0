"""Null-combination pattern analysis (missingness structure).

Profiles WHICH columns are null *together*: every row maps to a
null-pattern bitstring ('1' = null) over the chosen columns, and the
operator returns the histogram of patterns — the standard missing-data
co-occurrence view (cf. missingno's matrix/heatmap, here as a single
aggregation).

Plan shape: map-side projection builds the pattern string (pure
`concat` of CASE flags — JVM codegen, no UDF), then ONE `groupBy`
shuffle over at most 2^k distinct patterns (k = #columns, bounded and
tiny after map-side combine). The total for the fraction comes from a
broadcast 1-row cross join — no second scan of the data.

Scale notes (100 TB): shuffle cardinality is #patterns (<= 2^k), not
rows; the operator is one scan + one combine-friendly shuffle and its
output is screen-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

NULL_PATTERN_COLS = ["pattern", "null_columns", "n_rows", "fraction"]


def null_patterns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(pattern, null_columns, n_rows, fraction) per observed combination."""
    cols = list(cols or df.columns)
    pattern = F.concat(
        *[F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")) for c in cols]
    ).alias("pattern")
    null_cols = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(F.col(c).isNull(), F.lit(c)).otherwise(F.lit(None))
                    for c in cols
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    ).alias("null_columns")

    counts = df.select(pattern, null_cols).groupBy("pattern", "null_columns").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("total"))
    frac = "cast(n_rows AS double) / cast(total AS double)"
    return (
        counts.crossJoin(F.broadcast(total))
        .selectExpr(
            "pattern",
            "null_columns",
            "n_rows",
            f"cast({ROUND6.format(x=frac)} AS double) AS fraction",
        )
        .select(*NULL_PATTERN_COLS)
    )


def null_patterns_sql(table_or_subquery: str, cols: list[str]) -> str:
    """DuckDB mirror of the pattern histogram."""
    pattern = " || ".join(
        f"(CASE WHEN {c} IS NULL THEN '1' ELSE '0' END)" for c in cols
    )
    # COALESCE: DuckDB's array_to_string returns NULL for the empty list,
    # Spark's concat_ws returns '' — normalize to ''.
    null_cols = (
        "COALESCE(array_to_string(list_filter(["
        + ", ".join(f"CASE WHEN {c} IS NULL THEN '{c}' END" for c in cols)
        + "], x -> x IS NOT NULL), ','), '')"
    )
    frac = "CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE)"
    return f"""
WITH flagged AS (
  SELECT {pattern} AS pattern, {null_cols} AS null_columns
  FROM {table_or_subquery}
),
counts AS (
  SELECT pattern, null_columns, COUNT(*) AS n_rows
  FROM flagged GROUP BY pattern, null_columns
),
tot AS (SELECT SUM(n_rows) AS total FROM counts)
SELECT pattern, null_columns, n_rows,
  CAST({ROUND6.format(x=frac)} AS DOUBLE) AS fraction
FROM counts CROSS JOIN tot
"""
