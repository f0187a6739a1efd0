"""Cramér's V: strength of association between two categorical columns.

Complements correlation.py (numeric Pearson) and mutual_info.py (also
joint-frequency based): V = sqrt(chi2 / (n * (min(r,c) - 1))) in [0,1]
from the contingency table's chi-square statistic — the standard
measure profiling UIs show for categorical column pairs.

Plan shape:
1. ONE groupBy(a, b) shuffle builds the contingency table (map-side
   combine; output is |a-values| x |b-values| cells — categorical by
   assumption, so tiny);
2. marginals ride window sums OVER THE CONTINGENCY TABLE (not the
   data);
3. one global aggregate derives chi2, n, r, c and V.

Determinism: each cell's chi-square term is a fixed double expression
of integer counts — identical IEEE ops in both engines — ROUND6'd and
accumulated in DECIMAL(27,6), so the cross-cell sum is order-free.

Scale notes (100 TB): data-sized work is the single contingency
shuffle. High-cardinality "categoricals" inflate cells, not rows —
cap upstream (top-k bucket + OTHER) if a column is secretly an id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

CRAMERS_COLS = ["col_a", "col_b", "n_rows", "r", "c", "chi2", "cramers_v"]


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Single-row association stats for one categorical pair
    (rows with a NULL on either side are excluded)."""
    cont = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(
            F.col(col_a).cast("string").alias("av"),
            F.col(col_b).cast("string").alias("bv"),
        )
        .groupBy("av", "bv")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wa, wb = Window.partitionBy("av"), Window.partitionBy("bv")
    wall = Window.partitionBy()
    cells = cont.select(
        "av", "bv", "o",
        F.sum("o").over(wa).alias("row_tot"),
        F.sum("o").over(wb).alias("col_tot"),
        F.sum("o").over(wall).alias("n"),
    )
    # chi2 = sum_all_cells (o-e)^2/e  ==  sum_OBSERVED o^2*n/(row_tot*col_tot) - n
    # (zero cells contribute only their expected mass, which telescopes to n),
    # so the sparse contingency table suffices.
    term = (
        "cast(o AS double) * cast(o AS double) * cast(n AS double)"
        " / (cast(row_tot AS double) * cast(col_tot AS double))"
    )
    agg = cells.agg(
        F.expr(
            f"sum(cast({ROUND6.format(x=term)} AS decimal(27,6)))"
        ).alias("term_dec"),
        F.countDistinct("av").alias("r"),
        F.countDistinct("bv").alias("c"),
        F.max("n").alias("n_rows"),
    )
    chi2 = "cast(term_dec AS double) - cast(n_rows AS double)"
    v = (
        f"sqrt(greatest({chi2}, 0.0) / "
        "(cast(n_rows AS double) * cast(least(r, c) - 1 AS double)))"
    )
    return agg.selectExpr(
        f"'{col_a}' AS col_a",
        f"'{col_b}' AS col_b",
        "n_rows", "r", "c",
        f"cast({ROUND6.format(x=chi2)} AS double) AS chi2",
        f"cast({ROUND6.format(x=v)} AS double) AS cramers_v",
    ).select(*CRAMERS_COLS)


def cramers_v_sql(table: str, col_a: str, col_b: str) -> str:
    """DuckDB mirror: identical cell terms, ROUND6 + DECIMAL accumulation."""
    term = (
        "CAST(o AS DOUBLE) * CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
        " / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))"
    )
    chi2 = "CAST(term_dec AS DOUBLE) - CAST(n_rows AS DOUBLE)"
    v = (
        f"SQRT(GREATEST({chi2}, 0.0) / "
        "(CAST(n_rows AS DOUBLE) * CAST(LEAST(r, c) - 1 AS DOUBLE)))"
    )
    return f"""
WITH cont AS (
  SELECT CAST({col_a} AS VARCHAR) AS av, CAST({col_b} AS VARCHAR) AS bv,
    COUNT(*) AS o
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
),
cells AS (
  SELECT av, bv, o,
    SUM(o) OVER (PARTITION BY av) AS row_tot,
    SUM(o) OVER (PARTITION BY bv) AS col_tot,
    SUM(o) OVER () AS n
  FROM cont
),
agg AS (
  SELECT
    SUM(CAST({ROUND6.format(x=term)} AS DECIMAL(27,6))) AS term_dec,
    COUNT(DISTINCT av) AS r, COUNT(DISTINCT bv) AS c,
    MAX(n) AS n_rows
  FROM cells
)
SELECT '{col_a}' AS col_a, '{col_b}' AS col_b, n_rows, r, c,
  CAST({ROUND6.format(x=chi2)} AS DOUBLE) AS chi2,
  CAST({ROUND6.format(x=v)} AS DOUBLE) AS cramers_v
FROM agg
"""
