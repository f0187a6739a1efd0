"""Benford first-significant-digit analysis for numeric columns.

Benford's law (public, Newcomb 1881 / Benford 1938): naturally
occurring multi-scale numerics have first significant digit d with
probability log10(1 + 1/d). Large deviations flag synthetic, capped,
or manipulated data — a standard forensic/profiling screen.

Digit extraction is STRING-based on purpose: the first character of
the value's digits-1-to-9-only rendering is the first significant
digit in BOTH plain and scientific notation (a normalized mantissa
leads with a significant digit), so the extraction is notation-proof
and avoids log10/pow libm edges near exact powers of ten. Spark and
DuckDB both print shortest-round-trip doubles, so both engines see the
same digit string. Zero and NULL rows are excluded (no significant
digit).

Plan shape: map-side digit projection, ONE groupBy over <= 9 keys,
expected probabilities as Python-computed literals (bit-identical in
both engines by construction).

Scale notes (100 TB): one combine-friendly 9-key shuffle; nothing else.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

BENFORD_COLS = [
    "column", "digit", "n", "observed_p", "expected_p", "abs_dev",
]


def _expected(d: int) -> float:
    return round(math.log10(1.0 + 1.0 / d), 6)


def benford_digits(df: DataFrame, columns: list[str]) -> DataFrame:
    """(column, digit 1..9, n, observed_p, expected_p, abs_dev) per
    column; digits with zero occurrences are absent (sparse)."""
    if not columns:
        raise ValueError("benford_digits: need at least one column")
    structs = [
        f"named_struct('column', '{c}', 'digit', "
        f"substring(regexp_replace(cast({c} AS string), '[^1-9]', ''), 1, 1))"
        for c in columns
    ]
    digits = df.selectExpr(
        f"inline(array({', '.join(structs)}))"
    ).where(F.col("digit") != "")
    counts = digits.groupBy("column", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("column")
    expected = "CASE " + " ".join(
        f"WHEN digit = '{d}' THEN cast({_expected(d)!r} AS double)"
        for d in range(1, 10)
    ) + " END"
    obs = "cast(n AS double) / cast(n_col AS double)"
    return (
        counts.withColumn("n_col", F.sum("n").over(tot))
        .selectExpr(
            "column",
            "cast(digit AS int) AS digit",
            "n",
            f"cast({ROUND6.format(x=obs)} AS double) AS observed_p",
            f"{expected} AS expected_p",
            f"cast({ROUND6.format(x=f'abs({obs} - {expected})')} AS double) AS abs_dev",
        )
        .select(*BENFORD_COLS)
    )


def benford_digits_sql(table: str, columns: list[str]) -> str:
    """DuckDB mirror: same string-based digit extraction and literals."""
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", "
        f"substring(regexp_replace(CAST({c} AS VARCHAR), '[^1-9]', '', 'g'), 1, 1)"
        " AS digit"
        f" FROM {table} WHERE {c} IS NOT NULL"
        for c in columns
    )
    expected = "CASE " + " ".join(
        f"WHEN digit = '{d}' THEN CAST({_expected(d)!r} AS DOUBLE)"
        for d in range(1, 10)
    ) + " END"
    obs = "CAST(n AS DOUBLE) / CAST(n_col AS DOUBLE)"
    return f"""
WITH digits AS (
{arms}
),
counts AS (
  SELECT "column", digit, COUNT(*) AS n
  FROM digits WHERE digit <> '' GROUP BY 1, 2
)
SELECT "column", CAST(digit AS INT) AS digit, n,
  CAST({ROUND6.format(x=obs)} AS DOUBLE) AS observed_p,
  {expected} AS expected_p,
  CAST({ROUND6.format(x=f"ABS({obs} - {expected})")} AS DOUBLE) AS abs_dev
FROM (
  SELECT "column", digit, n, SUM(n) OVER (PARTITION BY "column") AS n_col
  FROM counts
)
"""
