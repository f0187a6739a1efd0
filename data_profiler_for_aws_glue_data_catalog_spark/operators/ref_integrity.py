"""Referential-integrity analysis: foreign-key containment across tables.

Deequ's ``isContainedIn`` / referential-integrity constraint family
(public awslabs/deequ API) generalized to a profiling operator: for each
(fact.fk -> dim.pk) pair, measure how completely the fact side's key
values resolve against the dimension side.

Plan shape (per FK pair):
1. fact side collapses to its DISTINCT fk values + row counts first:
   ``groupBy(fk).count()`` — ONE shuffle whose input benefits from
   map-side combine and whose output is |distinct fk| rows, not |fact|.
2. dim side collapses to distinct pk values (its own single shuffle,
   |distinct pk| rows).
3. the two *aggregated* relations left-join on the key — at 100 TB the
   join operands are key cardinalities, not table sizes; AQE broadcasts
   the dim side when it fits, and the final metrics row is a tiny
   fused aggregate over the joined frame.

No row-level fact x dim join ever happens, so a 100 TB fact table with
a 1 B-row dimension still only shuffles each table once at
key-cardinality width.

Output: one row per FK pair —
(fk_table, fk_column, pk_table, pk_column, n_rows, n_null_fk,
 n_matched_rows, n_orphan_rows, n_distinct_fk, n_orphan_values,
 containment_rows, containment_values)
with containment_rows = matched / non-null rows and containment_values
the same over distinct values (both ROUND6'd doubles).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

REF_INTEGRITY_COLS = [
    "fk_table", "fk_column", "pk_table", "pk_column",
    "n_rows", "n_null_fk", "n_matched_rows", "n_orphan_rows",
    "n_distinct_fk", "n_orphan_values",
    "containment_rows", "containment_values",
]


def referential_integrity(
    fact: DataFrame,
    fk_col: str,
    dim: DataFrame,
    pk_col: str,
    fact_name: str,
    dim_name: str,
) -> DataFrame:
    """Containment metrics for one fact.fk -> dim.pk pair (single row)."""
    fk_counts = (
        fact.select(F.col(fk_col).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pk_keys = (
        dim.select(F.col(pk_col).alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .withColumn("pk_hit", F.lit(1))
    )
    joined = fk_counts.join(pk_keys, on="k", how="left")
    agg = joined.agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(F.col("k").isNull(), F.col("cnt")).otherwise(F.lit(0))).alias(
            "n_null_fk"
        ),
        F.sum(
            F.when(F.col("pk_hit").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
        ).alias("n_matched_rows"),
        F.sum(
            F.when(
                F.col("k").isNotNull() & F.col("pk_hit").isNull(), F.col("cnt")
            ).otherwise(F.lit(0))
        ).alias("n_orphan_rows"),
        F.sum(F.when(F.col("k").isNotNull(), F.lit(1)).otherwise(F.lit(0))).alias(
            "n_distinct_fk"
        ),
        F.sum(
            F.when(
                F.col("k").isNotNull() & F.col("pk_hit").isNull(), F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("n_orphan_values"),
    )
    rows_ratio = (
        "cast(n_matched_rows AS double) / cast(n_rows - n_null_fk AS double)"
    )
    vals_ratio = (
        "cast(n_distinct_fk - n_orphan_values AS double)"
        " / cast(n_distinct_fk AS double)"
    )
    return agg.selectExpr(
        f"'{fact_name}' AS fk_table",
        f"'{fk_col}' AS fk_column",
        f"'{dim_name}' AS pk_table",
        f"'{pk_col}' AS pk_column",
        "n_rows", "n_null_fk", "n_matched_rows", "n_orphan_rows",
        "n_distinct_fk", "n_orphan_values",
        f"cast({ROUND6.format(x=rows_ratio)} AS double) AS containment_rows",
        f"cast({ROUND6.format(x=vals_ratio)} AS double) AS containment_values",
    ).select(*REF_INTEGRITY_COLS)


def referential_integrity_report(
    spark: SparkSession,
    pairs: list[tuple[DataFrame, str, DataFrame, str, str, str]],
) -> DataFrame:
    """One metrics row per (fact, fk, dim, pk, fact_name, dim_name) pair.

    Each pair is an independent branch of one lazy union — the scheduler
    runs the per-pair aggregations concurrently in a single action.
    """
    frames = [referential_integrity(*p) for p in pairs]
    return reduce(DataFrame.unionByName, frames)


def referential_integrity_sql(
    fact_table: str, fk_col: str, dim_table: str, pk_col: str
) -> str:
    """DuckDB mirror: same aggregate-then-join shape."""
    rows_ratio = (
        "CAST(n_matched_rows AS DOUBLE) / CAST(n_rows - n_null_fk AS DOUBLE)"
    )
    vals_ratio = (
        "CAST(n_distinct_fk - n_orphan_values AS DOUBLE)"
        " / CAST(n_distinct_fk AS DOUBLE)"
    )
    return f"""
WITH fk_counts AS (
  SELECT {fk_col} AS k, COUNT(*) AS cnt FROM {fact_table} GROUP BY {fk_col}
),
pk_keys AS (
  SELECT DISTINCT {pk_col} AS k, 1 AS pk_hit FROM {dim_table}
  WHERE {pk_col} IS NOT NULL
),
joined AS (
  SELECT f.k, f.cnt, p.pk_hit FROM fk_counts f LEFT JOIN pk_keys p ON f.k = p.k
),
agg AS (
  SELECT
    SUM(cnt) AS n_rows,
    SUM(CASE WHEN k IS NULL THEN cnt ELSE 0 END) AS n_null_fk,
    SUM(CASE WHEN pk_hit IS NOT NULL THEN cnt ELSE 0 END) AS n_matched_rows,
    SUM(CASE WHEN k IS NOT NULL AND pk_hit IS NULL THEN cnt ELSE 0 END)
      AS n_orphan_rows,
    SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS n_distinct_fk,
    SUM(CASE WHEN k IS NOT NULL AND pk_hit IS NULL THEN 1 ELSE 0 END)
      AS n_orphan_values
  FROM joined
)
SELECT '{fact_table}' AS fk_table, '{fk_col}' AS fk_column,
  '{dim_table}' AS pk_table, '{pk_col}' AS pk_column,
  n_rows, n_null_fk, n_matched_rows, n_orphan_rows,
  n_distinct_fk, n_orphan_values,
  CAST({ROUND6.format(x=rows_ratio)} AS DOUBLE) AS containment_rows,
  CAST({ROUND6.format(x=vals_ratio)} AS DOUBLE) AS containment_values
FROM agg
"""
