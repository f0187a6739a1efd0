"""Blank/whitespace hygiene stats for text columns.

NULL is only one kind of missing: '' and '   ' sail through
Completeness yet poison joins and group-bys, and padded values
(' x' != 'x') silently split groups. Per column:
(column, n_rows, n_null, n_blank, n_padded, effective_completeness)
where n_blank counts empty-after-trim non-null values, n_padded counts
values that change under trim, and effective_completeness is the
fraction of rows that are non-null AND non-blank.

Plan shape: ONE fused aggregate for all columns, zero shuffles
(the scan_metrics conditional-count pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

BLANK_COLS = [
    "column", "n_rows", "n_null", "n_blank", "n_padded",
    "effective_completeness",
]


def blank_stats(df: DataFrame, columns: list[str]) -> DataFrame:
    """One row per text column (values cast to string for the checks)."""
    if not columns:
        raise ValueError("blank_stats: no columns")
    exprs = ["count(1) AS n_rows"]
    for i, c in enumerate(columns):
        v = f"cast(`{c}` AS string)"
        exprs += [
            f"count_if({v} IS NULL) AS nn_{i}",
            f"count_if({v} IS NOT NULL AND trim({v}) = '') AS nb_{i}",
            f"count_if({v} IS NOT NULL AND {v} != trim({v})) AS np_{i}",
        ]
    row = df.selectExpr(*exprs)
    stack = ", ".join(
        f"'{c}', nn_{i}, nb_{i}, np_{i}" for i, c in enumerate(columns)
    )
    ec = "cast(n_rows - n_null - n_blank AS double) / cast(n_rows AS double)"
    return row.selectExpr(
        "n_rows",
        f"stack({len(columns)}, {stack}) AS (column, n_null, n_blank, n_padded)",
    ).selectExpr(
        "column", "n_rows", "n_null", "n_blank", "n_padded",
        f"cast({ROUND6.format(x=ec)} AS double) AS effective_completeness",
    ).select(*BLANK_COLS)


def blank_stats_sql(table: str, columns: list[str]) -> str:
    """DuckDB mirror."""
    arms = []
    ec = "CAST(n_rows - n_null - n_blank AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    for c in columns:
        v = f"CAST({c} AS VARCHAR)"
        arms.append(f"""
SELECT '{c}' AS "column", COUNT(1) AS n_rows,
  SUM(CASE WHEN {v} IS NULL THEN 1 ELSE 0 END) AS n_null,
  SUM(CASE WHEN {v} IS NOT NULL AND trim({v}) = '' THEN 1 ELSE 0 END) AS n_blank,
  SUM(CASE WHEN {v} IS NOT NULL AND {v} <> trim({v}) THEN 1 ELSE 0 END) AS n_padded
FROM {table}""")
    return (
        "SELECT \"column\", n_rows, n_null, n_blank, n_padded,\n"
        f"  CAST({ROUND6.format(x=ec)} AS DOUBLE) AS effective_completeness\n"
        "FROM (\n" + "\nUNION ALL\n".join(arms) + "\n)"
    )
