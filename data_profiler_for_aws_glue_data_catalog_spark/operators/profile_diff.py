"""Profile drift: diff two metrics relations key-by-key.

The operational question after every profiler run is "what changed since
the last snapshot" — this operator answers it for any two long metric
relations (two runs of a table, a table vs its filtered subset, prod vs
staging): a full-outer join on the metric key with per-metric deltas and
a change classification.

Execution shape: metrics relations are O(columns x metrics) rows — one
small shuffle for the full-outer join regardless of data scale (the data
was scanned when the profiles were built, not here).

Determinism: delta is the plain IEEE difference 6-dp floor-rounded;
'unchanged' uses null-safe equality (IS NOT DISTINCT FROM) so a metric
that is NULL in both snapshots (e.g. Mean of an all-null column) is
unchanged, while a missing row is 'added'/'removed'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

DIFF_COLS = [
    "entity",
    "instance",
    "name",
    "value_old",
    "value_new",
    "delta",
    "change",
]

_KEYS = ["entity", "instance", "name"]


def profile_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(entity, instance, name, value_old, value_new, delta, change) with
    change in {'added', 'removed', 'changed', 'unchanged'}."""
    o = old.select(*_KEYS, F.col("value").alias("value_old"), F.lit(1).alias("_o"))
    n = new.select(*_KEYS, F.col("value").alias("value_new"), F.lit(1).alias("_n"))
    j = o.join(n, on=_KEYS, how="full_outer")
    return j.selectExpr(
        *_KEYS,
        "value_old",
        "value_new",
        f"cast({ROUND6.format(x='value_new - value_old')} AS double) AS delta",
        "CASE WHEN _o IS NULL THEN 'added' "
        "WHEN _n IS NULL THEN 'removed' "
        "WHEN value_old IS NOT DISTINCT FROM value_new THEN 'unchanged' "
        "ELSE 'changed' END AS change",
    ).select(*DIFF_COLS)


def profile_diff_sql(old_sql: str, new_sql: str) -> str:
    """DuckDB mirror over two profile subqueries."""
    delta = ROUND6.format(x="n.value - o.value")
    return f"""
WITH o AS ({old_sql}), n AS ({new_sql})
SELECT
  COALESCE(o.entity, n.entity) AS entity,
  COALESCE(o.instance, n.instance) AS instance,
  COALESCE(o.name, n.name) AS name,
  o.value AS value_old,
  n.value AS value_new,
  CAST({delta} AS DOUBLE) AS delta,
  CASE WHEN o.name IS NULL THEN 'added'
       WHEN n.name IS NULL THEN 'removed'
       WHEN o.value IS NOT DISTINCT FROM n.value THEN 'unchanged'
       ELSE 'changed' END AS change
FROM o FULL OUTER JOIN n
  ON o.entity = n.entity AND o.instance = n.instance AND o.name = n.name
"""
