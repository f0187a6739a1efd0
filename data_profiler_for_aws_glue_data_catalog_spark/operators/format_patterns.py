"""Format-pattern (mask) analysis for text columns.

The classic data-profiling "pattern frequency" view (Talend/Informatica
style, public concept): map each value to its shape mask — digits->'9',
lowercase->'a', uppercase->'A', everything else kept — and report the
top-k masks per column with counts and ratios. Surfaces mixed formats
("AAA-99" vs "AA-999"), stray whitespace, and format drift that scalar
metrics can't see.

Plan shape: the mask is a map-side chain of three `regexp_replace`
calls (JVM codegen); `+` collapses runs so masks stay short and
low-cardinality. ONE groupBy (column, mask) shuffle + per-column top-k
via window rank over the tiny mask relation. Totals ride a window sum,
not a second scan.

Scale notes (100 TB): mask cardinality per column is small by
construction (runs collapsed), so the shuffle output is tiny; the
rank window partitions by column over that tiny relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

FORMAT_COLS = ["column", "mask", "cnt", "ratio", "rank"]

_MASK = (
    "regexp_replace(regexp_replace(regexp_replace({c}, '[0-9]+', '9'), "
    "'[a-z]+', 'a'), '[A-Z]+', 'A')"
)


def mask_expr(col_sql: str) -> str:
    """SQL text of the shape mask (identical in Spark and DuckDB —
    POSIX-class-free so both regex engines agree; runs collapse)."""
    return _MASK.format(c=col_sql)


def format_patterns(
    df: DataFrame, columns: list[str], k: int = 5
) -> DataFrame:
    """Top-k shape masks per column: (column, mask, cnt, ratio, rank).
    NULLs are excluded (no shape); ties break by mask text."""
    if not columns:
        raise ValueError("format_patterns: no columns")
    structs = [
        f"named_struct('column', '{c}', 'mask', {mask_expr(f'cast(`{c}` AS string)')})"
        for c in columns
    ]
    pairs = df.selectExpr(f"inline(array({', '.join(structs)}))").where(
        F.col("mask").isNotNull()
    )
    counts = pairs.groupBy("column", "mask").agg(F.count(F.lit(1)).alias("cnt"))
    wtot = Window.partitionBy("column")
    wrank = Window.partitionBy("column").orderBy(
        F.desc("cnt"), F.asc("mask")
    )
    ratio = "cast(cnt AS double) / cast(n_col AS double)"
    return (
        counts.withColumn("n_col", F.sum("cnt").over(wtot))
        .withColumn("rank", F.row_number().over(wrank))
        .where(F.col("rank") <= k)
        .selectExpr(
            "column", "mask", "cnt",
            f"cast({ROUND6.format(x=ratio)} AS double) AS ratio",
            "rank",
        )
        .select(*FORMAT_COLS)
    )


def format_patterns_sql(table: str, columns: list[str], k: int = 5) -> str:
    """DuckDB mirror ('g' flag: replace ALL runs, matching Spark)."""
    mask = (
        "regexp_replace(regexp_replace(regexp_replace({c}, '[0-9]+', '9', 'g'),"
        " '[a-z]+', 'a', 'g'), '[A-Z]+', 'A', 'g')"
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", {mask.format(c=f'CAST({c} AS VARCHAR)')} AS mask"
        f" FROM {table} WHERE {c} IS NOT NULL"
        for c in columns
    )
    ratio = "CAST(cnt AS DOUBLE) / CAST(n_col AS DOUBLE)"
    return f"""
WITH pairs AS (
{arms}
),
counts AS (
  SELECT "column", mask, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
),
ranked AS (
  SELECT "column", mask, cnt,
    SUM(cnt) OVER (PARTITION BY "column") AS n_col,
    ROW_NUMBER() OVER (
      PARTITION BY "column" ORDER BY cnt DESC, mask ASC
    ) AS rank
  FROM counts
)
SELECT "column", mask, cnt,
  CAST({ROUND6.format(x=ratio)} AS DOUBLE) AS ratio,
  CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""
