"""Candidate-key discovery: composite uniqueness over column sets.

Deequ's Uniqueness/UniqueValueRatio accept column COMBINATIONS — the
primary-key-discovery use case: "is (a) or (a, b) a key of this
table?". For each candidate column set this reports total rows, rows
where every key column is non-null, the exact distinct combination
count over those rows, the uniqueness ratio, and the verdict
(``is_key`` = every row present and every combination unique).

Plan shape: ALL candidate sets ride ONE aggregation job —
``count(DISTINCT a, b)`` per set plus the shared counts fuse into a
single ``df.agg``; Spark plans multi-distinct aggregates with one
Expand (one duplicated row stream per distinct group), map-side
partials, one shuffle. That is C candidate sets for one scan + one
shuffle, vs the naive one-groupBy-per-candidate loop.

Null semantics (the SQL contract): a row with ANY null key column can
never satisfy a key constraint; ``n_complete`` counts rows with all
key columns present, and ``n_distinct`` counts distinct combinations
among those rows (exactly SQL ``COUNT(DISTINCT a, b, ...)``).
``is_key`` requires n_complete == n_rows AND n_distinct == n_rows.

Scale notes (100 TB): exact multi-distinct over a near-unique key set
shuffles ~|rows| expanded tuples per candidate — the exact-answer
price; prescreen with one fused HLL pass (approx_count_distinct over
struct(cols)) and verify only candidates whose estimate is within rsd
of n_rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import duck_str, sql_ident, sql_str

KEY_COLS = [
    "key_cols", "n_rows", "n_complete", "n_distinct", "uniqueness", "is_key",
]


def _label(cols: list[str]) -> str:
    return ",".join(cols)


def candidate_keys(df: DataFrame, col_sets: list[list[str]]) -> DataFrame:
    """(key_cols, n_rows, n_complete, n_distinct, uniqueness, is_key)
    for every candidate column set, one fused aggregation job."""
    if not col_sets:
        raise ValueError("candidate_keys: need at least one column set")
    exprs = ["count(1) AS n_rows"]
    for i, cols in enumerate(col_sets):
        qs = [sql_ident(c) for c in cols]
        nn = " AND ".join(f"{q} IS NOT NULL" for q in qs)
        exprs.append(f"count(CASE WHEN {nn} THEN 1 END) AS nc_{i}")
        exprs.append(f"count(DISTINCT {', '.join(qs)}) AS nd_{i}")
    row = df.selectExpr(*exprs)
    structs = []
    for i, cols in enumerate(col_sets):
        uniq = f"try_divide(cast(nd_{i} AS double), cast(nc_{i} AS double))"
        structs.append(
            "named_struct("
            f"'key_cols', {sql_str(_label(cols))}, "
            "'n_rows', n_rows, "
            f"'n_complete', nc_{i}, "
            f"'n_distinct', nd_{i}, "
            f"'uniqueness', cast({ROUND6.format(x=uniq)} AS double), "
            f"'is_key', (nc_{i} = n_rows AND nd_{i} = n_rows))"
        )
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(*KEY_COLS)


def candidate_keys_sql(table: str, col_sets: list[list[str]]) -> str:
    """DuckDB mirror: COUNT(DISTINCT (tuple)) filtered to complete rows."""
    parts = []
    for cols in col_sets:
        nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        tup = f"({', '.join(cols)})" if len(cols) > 1 else cols[0]
        # CASE guard == Spark try_divide (NULL, not NaN/inf, when empty)
        uniq = (
            "CASE WHEN n_complete > 0 THEN "
            "CAST(n_distinct AS DOUBLE) / CAST(n_complete AS DOUBLE) END"
        )
        parts.append(f"""
SELECT {duck_str(_label(cols))} AS key_cols, n_rows, n_complete, n_distinct,
  CAST({ROUND6.format(x=uniq)} AS DOUBLE) AS uniqueness,
  (n_complete = n_rows AND n_distinct = n_rows) AS is_key
FROM (
  SELECT count(*) AS n_rows,
    count(CASE WHEN {nn} THEN 1 END) AS n_complete,
    count(DISTINCT {tup}) FILTER (WHERE {nn}) AS n_distinct
  FROM {table}
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


COMPOSITE_COLS = [
    "key_cols", "n_rows_nonnull", "n_combinations", "n_unique_combinations",
    "distinctness", "uniqueness", "unique_value_ratio",
]


def composite_uniqueness(df: DataFrame, col_sets: list[list[str]]) -> DataFrame:
    """Deequ's multi-column Uniqueness / Distinctness / UniqueValueRatio
    for each candidate column combination (the metric-valued complement
    of candidate_keys' boolean verdict).

    Per set, from one ``groupBy(cols)`` frequency shuffle:
    distinctness        = #combinations / non-null rows
    uniqueness          = #combinations seen once / non-null rows
    unique_value_ratio  = #combinations seen once / #combinations
    (rows with any NULL key column are excluded, matching Deequ's
    frequency-table null-drop).

    Each set is an independent branch of one lazy union.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    if not col_sets:
        raise ValueError("composite_uniqueness: no column sets")
    frames = []
    for cols in col_sets:
        nn = reduce(
            lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
        )
        freq = (
            df.where(nn)
            .groupBy(*[F.col(c) for c in cols])
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        agg = freq.agg(
            F.sum("cnt").alias("n_rows_nonnull"),
            F.count(F.lit(1)).alias("n_combinations"),
            F.sum(
                F.when(F.col("cnt") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_unique_combinations"),
        )
        d = "cast(n_combinations AS double) / cast(n_rows_nonnull AS double)"
        u = "cast(n_unique_combinations AS double) / cast(n_rows_nonnull AS double)"
        r = "cast(n_unique_combinations AS double) / cast(n_combinations AS double)"
        frames.append(
            agg.selectExpr(
                f"'{_label(cols)}' AS key_cols",
                "n_rows_nonnull", "n_combinations", "n_unique_combinations",
                f"cast({ROUND6.format(x=d)} AS double) AS distinctness",
                f"cast({ROUND6.format(x=u)} AS double) AS uniqueness",
                f"cast({ROUND6.format(x=r)} AS double) AS unique_value_ratio",
            ).select(*COMPOSITE_COLS)
        )
    return reduce(DataFrame.unionByName, frames)


def composite_uniqueness_sql(table: str, col_sets: list[list[str]]) -> str:
    """DuckDB mirror of composite_uniqueness."""
    arms = []
    for cols in col_sets:
        nn = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        gb = ", ".join(cols)
        d = "CAST(n_combinations AS DOUBLE) / CAST(n_rows_nonnull AS DOUBLE)"
        u = "CAST(n_unique_combinations AS DOUBLE) / CAST(n_rows_nonnull AS DOUBLE)"
        r = "CAST(n_unique_combinations AS DOUBLE) / CAST(n_combinations AS DOUBLE)"
        arms.append(f"""
SELECT '{_label(cols)}' AS key_cols, n_rows_nonnull, n_combinations,
  n_unique_combinations,
  CAST({ROUND6.format(x=d)} AS DOUBLE) AS distinctness,
  CAST({ROUND6.format(x=u)} AS DOUBLE) AS uniqueness,
  CAST({ROUND6.format(x=r)} AS DOUBLE) AS unique_value_ratio
FROM (
  SELECT SUM(cnt) AS n_rows_nonnull, COUNT(*) AS n_combinations,
    SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_unique_combinations
  FROM (
    SELECT {gb}, COUNT(*) AS cnt FROM {table} WHERE {nn} GROUP BY {gb}
  )
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({a})" for a in arms)
