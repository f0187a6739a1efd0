"""Item co-occurrence mining within a grouping key (market-basket lite).

Which items appear TOGETHER in the same order/session/document? The
support-counting half of association-rule mining: top-k item pairs by
co-occurrence count, with each pair's support fraction.

Plan shape: a SELF equi-join on the group key (li1.group == li2.group,
item1 < item2 dedups orientation) — the canonical pair generator.
Pair volume per group is C(group_size, 2): bounded fan-out when group
sizes are bounded (order line counts, session lengths). Then ONE
groupBy(item1, item2) with map-side combine and ``orderBy().limit(k)``
-> TakeOrderedAndProject. Total-group count rides a broadcast 1-row
frame.

Scale notes (100 TB): the join shuffles the fact table twice on the
group key — co-partitioned, AQE-skew-handled; a pathological group
(one basket with 10^6 items) must be capped upstream (filter on group
size) exactly like the hot-shingle cap in dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

COOC_COLS = ["item1", "item2", "n_groups", "support"]


def cooccurrence_topk(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 20,
) -> DataFrame:
    """Top-k (item1, item2, n_groups, support) pairs; a pair counts once
    per group (distinct (group, item) first); ties break by item ids."""
    items = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("item"))
        .where(F.col("g").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.item") < F.col("b.item"))
    ).select(
        F.col("a.item").alias("item1"), F.col("b.item").alias("item2")
    )
    counts = pairs.groupBy("item1", "item2").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    total = items.select("g").distinct().agg(F.count(F.lit(1)).alias("n_total"))
    sup = "cast(n_groups AS double) / cast(n_total AS double)"
    return (
        counts.crossJoin(F.broadcast(total))
        .selectExpr(
            "item1", "item2", "n_groups",
            f"cast({ROUND6.format(x=sup)} AS double) AS support",
        )
        .orderBy(F.desc("n_groups"), F.asc("item1"), F.asc("item2"))
        .limit(k)
        .select(*COOC_COLS)
    )


def cooccurrence_topk_sql(
    table: str, group_col: str, item_col: str, k: int = 20
) -> str:
    """DuckDB mirror with the same tie-break ordering."""
    sup = "CAST(n_groups AS DOUBLE) / CAST(n_total AS DOUBLE)"
    return f"""
WITH items AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS item
  FROM {table} WHERE {group_col} IS NOT NULL AND {item_col} IS NOT NULL
),
pairs AS (
  SELECT a.item AS item1, b.item AS item2
  FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
),
counts AS (
  SELECT item1, item2, COUNT(*) AS n_groups FROM pairs GROUP BY item1, item2
),
total AS (SELECT COUNT(DISTINCT g) AS n_total FROM items)
SELECT item1, item2, n_groups,
  CAST({ROUND6.format(x=sup)} AS DOUBLE) AS support
FROM counts CROSS JOIN total
ORDER BY n_groups DESC, item1 ASC, item2 ASC
LIMIT {k}
"""
