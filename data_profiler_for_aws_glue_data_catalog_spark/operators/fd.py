"""Approximate functional-dependency discovery (det -> dep strength).

Profiling extension in the spirit of Deequ's uniqueness family: for a
determinant column and a set of dependent columns, measure how close
``det -> dep`` is to an exact functional dependency.

Definitions (per dependent):
- a determinant group is *determined* iff it contains <= 1 distinct
  non-null dep value (all-null groups count as determined);
- ``group_strength``  = determined groups / groups;
- ``row_strength``    = rows in determined groups / rows.
Both 1.0 iff the FD holds exactly (modulo nulls as stated).

Plan shape: ONE ``groupBy(det)`` shuffle shared by every dependent —
``count(*)`` plus one ``count_distinct(dep_i)`` per dependent ride the
same aggregation (Catalyst plans multi-distinct via a single expand).
The per-dep verdicts are a second aggregate over the |groups|-sized
frame, unpivoted via ``stack`` — no join back to the data.

Scale notes (100 TB): shuffle width is |distinct det| after map-side
partial aggregation; dep distinct-counting is exact (expand factor =
#deps + 1) — for very wide dep lists at extreme scale, split into
batches of deps or swap count_distinct for approx_count_distinct
(loosening the verdict to approximate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

FD_COLS = [
    "determinant", "dependent", "n_groups", "n_determined_groups",
    "n_rows", "n_determined_rows", "group_strength", "row_strength",
]


def fd_strength(df: DataFrame, determinant: str, dependents: list[str]) -> DataFrame:
    """One row per dependent: how strongly `determinant` determines it."""
    aggs = [F.count(F.lit(1)).alias("cnt")] + [
        F.countDistinct(F.col(d)).alias(f"nd_{i}") for i, d in enumerate(dependents)
    ]
    groups = df.groupBy(F.col(determinant).alias("det")).agg(*aggs)

    per_dep = groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("cnt").alias("n_rows"),
        *[
            F.sum(
                F.when(F.col(f"nd_{i}") <= 1, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"dg_{i}")
            for i in range(len(dependents))
        ],
        *[
            F.sum(
                F.when(F.col(f"nd_{i}") <= 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias(f"dr_{i}")
            for i in range(len(dependents))
        ],
    )
    stack_args = ", ".join(
        f"'{d}', dg_{i}, dr_{i}" for i, d in enumerate(dependents)
    )
    unpivoted = per_dep.selectExpr(
        "n_groups",
        "n_rows",
        f"stack({len(dependents)}, {stack_args})"
        " AS (dependent, n_determined_groups, n_determined_rows)",
    )
    gs = "cast(n_determined_groups AS double) / cast(n_groups AS double)"
    rs = "cast(n_determined_rows AS double) / cast(n_rows AS double)"
    return unpivoted.selectExpr(
        f"'{determinant}' AS determinant",
        "dependent",
        "n_groups", "n_determined_groups", "n_rows", "n_determined_rows",
        f"cast({ROUND6.format(x=gs)} AS double) AS group_strength",
        f"cast({ROUND6.format(x=rs)} AS double) AS row_strength",
    ).select(*FD_COLS)


def fd_strength_sql(table: str, determinant: str, dependents: list[str]) -> str:
    """DuckDB mirror: same shared-groupBy shape, one UNION arm per dep
    over the same ``groups`` CTE."""
    nd_cols = ",\n    ".join(
        f"COUNT(DISTINCT {d}) AS nd_{i}" for i, d in enumerate(dependents)
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{determinant}' AS determinant, '{d}' AS dependent,
  COUNT(*) AS n_groups,
  SUM(CASE WHEN nd_{i} <= 1 THEN 1 ELSE 0 END) AS n_determined_groups,
  SUM(cnt) AS n_rows,
  SUM(CASE WHEN nd_{i} <= 1 THEN cnt ELSE 0 END) AS n_determined_rows,
  CAST({ROUND6.format(x=f"CAST(SUM(CASE WHEN nd_{i} <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS DOUBLE) AS group_strength,
  CAST({ROUND6.format(x=f"CAST(SUM(CASE WHEN nd_{i} <= 1 THEN cnt ELSE 0 END) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)")} AS DOUBLE) AS row_strength
FROM groups"""
        for i, d in enumerate(dependents)
    )
    return f"""
WITH groups AS (
  SELECT {determinant} AS det, COUNT(*) AS cnt,
    {nd_cols}
  FROM {table} GROUP BY {determinant}
)
{arms}
"""
