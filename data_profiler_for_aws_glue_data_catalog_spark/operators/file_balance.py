"""Input-file balance diagnostics: the small-files / skewed-files check.

At 100 TB the difference between a healthy table and a slow one is
often LAYOUT, not content: thousands of KB-sized files (per-task
overhead dominates) or one giant unsplittable file (one task does
everything). This operator profiles rows-per-input-file from inside a
scan — ``input_file_name()`` is free metadata — and summarizes:
(n_files, n_rows, min_rows, max_rows, mean_rows, p50_rows, p99_rows,
 balance_ratio = max/mean).

One groupBy(file) shuffle (combine-friendly, |files| keys) + a tiny
exact-percentile aggregate over the |files|-sized relation.

The raw summary has no full SQL oracle: file identity is an
execution-layout fact DuckDB's view of the same data does not share —
unit tests assert the contract instead (file counts from controlled
writes). ``file_balance_verdict`` extracts what IS oracle-checkable:
the per-file row counts must conserve the table's COUNT(*) exactly
(n_rows, hash-compared), and the layout statistics must be internally
consistent (min <= p50 <= p99 <= max, mean inside [min, max],
balance_ratio >= 1 — TRUE by construction when the groupBy is correct,
FALSE the moment any aggregate drops or double-counts a file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

FILE_BALANCE_COLS = [
    "n_files", "n_rows", "min_rows", "max_rows", "mean_rows",
    "p50_rows", "p99_rows", "balance_ratio",
]


def file_balance(df: DataFrame) -> DataFrame:
    """Single-row rows-per-file distribution summary for a file-backed
    DataFrame (empty input -> n_files = 0 row)."""
    per_file = (
        df.select(F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    mean = "cast(n_rows AS double) / cast(n_files AS double)"
    ratio = f"cast(max_rows AS double) / ({mean})"
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows").alias("n_rows"),
        F.min("rows").alias("min_rows"),
        F.max("rows").alias("max_rows"),
        F.expr("percentile(rows, 0.5)").alias("p50_rows"),
        F.expr("percentile(rows, 0.99)").alias("p99_rows"),
    ).selectExpr(
        "n_files", "n_rows", "min_rows", "max_rows",
        f"cast({ROUND6.format(x=mean)} AS double) AS mean_rows",
        "cast(p50_rows AS double) AS p50_rows",
        "cast(p99_rows AS double) AS p99_rows",
        f"cast({ROUND6.format(x=ratio)} AS double) AS balance_ratio",
    ).select(*FILE_BALANCE_COLS)


FILE_BALANCE_VERDICT_COLS = ["n_rows", "layout_consistent"]


def file_balance_verdict(df: DataFrame) -> DataFrame:
    """Single-row oracle-checkable projection of :func:`file_balance`:
    ``n_rows`` (the per-file counts must conserve COUNT(*) — DuckDB
    hash-compares it against the table) and ``layout_consistent`` (the
    summary statistics' internal invariants; see module docstring)."""
    return file_balance(df).selectExpr(
        "cast(coalesce(n_rows, 0) AS bigint) AS n_rows",
        "CASE WHEN n_files = 0 THEN n_rows IS NULL ELSE "
        "  coalesce("
        "    min_rows <= p50_rows AND p50_rows <= p99_rows"
        "    AND p99_rows <= cast(max_rows AS double)"
        "    AND cast(min_rows AS double) <= mean_rows"
        "    AND mean_rows <= cast(max_rows AS double)"
        "    AND balance_ratio >= 0.999999, false) "
        "END AS layout_consistent",
    ).select(*FILE_BALANCE_VERDICT_COLS)
