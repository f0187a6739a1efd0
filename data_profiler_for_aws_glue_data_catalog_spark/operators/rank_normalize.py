"""Per-group rank normalization (percent-rank feature transform).

Map a skewed numeric feature onto [0, 1] by its rank WITHIN a group —
the distribution-free normalization that survives outliers and
cross-group scale differences (per-tenant latencies, per-language doc
lengths). Adds ``<col>_pct = percent_rank() over (group, order by
value, id)`` — the id tie-break makes ranks (and thus the transform)
deterministic under equal values.

Plan shape: ONE window shuffle keyed by the group. Scale-sound when
group cardinality spreads the data (the usual case); for a single
giant group the global sort is the cost — bucketize first (equi-depth
histogram bounds) if that bites.

Determinism note: percent_rank with a TOTAL order (value, id) gives
every row a unique rank in both engines; the ROUND6'd output is
engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6


def rank_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Adds ``out_col`` (default ``<value_col>_pct``) in [0,1]; NULL
    values rank lowest (Spark/DuckDB NULLS FIRST default ascending)."""
    out_col = out_col or f"{value_col}_pct"
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    return df.withColumn("__pr", F.percent_rank().over(w)).selectExpr(
        *df.columns,
        f"cast({ROUND6.format(x='__pr')} AS double) AS {out_col}",
    )


def rank_normalize_sql(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
    select_cols: list[str],
    out_col: str | None = None,
) -> str:
    """DuckDB mirror (same total order; NULLS FIRST to match Spark's
    ascending default)."""
    out_col = out_col or f"{value_col}_pct"
    pr = (
        f"percent_rank() OVER (PARTITION BY {group_col} "
        f"ORDER BY {value_col} ASC NULLS FIRST, {id_col} ASC)"
    )
    cols = ", ".join(select_cols)
    return f"""
SELECT {cols},
  CAST({ROUND6.format(x=pr)} AS DOUBLE) AS {out_col}
FROM {table}
"""
