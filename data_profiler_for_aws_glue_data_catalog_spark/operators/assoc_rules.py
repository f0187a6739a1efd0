"""Association rules from item co-occurrence (confidence + lift).

The second half of market-basket mining on top of cooccurrence.py's
support counts: for each frequent ordered pair (a -> b),
  confidence = P(b in G | a in G) = n_ab / n_a
  lift       = confidence / P(b in G) = n_ab * N / (n_a * n_b)
Lift > 1 flags genuinely associated items, not just popular ones.

Plan shape: distinct (group, item) relation feeds BOTH the pair
self-equi-join (the cooccurrence shape, both orientations this time)
and the per-item group counts; supports attach via two joins against
the |items|-sized count relation; min_support prunes pairs BEFORE the
joins. Total-group count rides a broadcast 1-row frame.

Scale notes (100 TB): identical cost profile to cooccurrence_topk
(bounded pair fan-out per group) plus two item-keyed small joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

RULE_COLS = [
    "antecedent", "consequent", "n_both", "n_antecedent", "n_consequent",
    "confidence", "lift",
]


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    k: int = 50,
) -> DataFrame:
    """Top-k ordered rules by (lift desc, confidence desc, ids) with
    pair support >= min_support."""
    items = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("item"))
        .where(F.col("g").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    item_counts = items.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .select(
            F.col("a.item").alias("antecedent"),
            F.col("b.item").alias("consequent"),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    n_groups = items.select("g").distinct().agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    ca = item_counts.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_antecedent")
    )
    cb = item_counts.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_consequent")
    )
    joined = (
        pairs.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n_groups))
    )
    conf = "cast(n_both AS double) / cast(n_antecedent AS double)"
    lift = (
        "cast(n_both AS double) * cast(n_groups AS double)"
        " / (cast(n_antecedent AS double) * cast(n_consequent AS double))"
    )
    return (
        joined.selectExpr(
            "antecedent", "consequent", "n_both", "n_antecedent", "n_consequent",
            f"cast({ROUND6.format(x=conf)} AS double) AS confidence",
            f"cast({ROUND6.format(x=lift)} AS double) AS lift",
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"),
            F.asc("antecedent"), F.asc("consequent"),
        )
        .limit(k)
        .select(*RULE_COLS)
    )


def association_rules_sql(
    table: str,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    k: int = 50,
) -> str:
    """DuckDB mirror with the same total order."""
    conf = "CAST(n_both AS DOUBLE) / CAST(n_antecedent AS DOUBLE)"
    lift = (
        "CAST(n_both AS DOUBLE) * CAST(n_groups AS DOUBLE)"
        " / (CAST(n_antecedent AS DOUBLE) * CAST(n_consequent AS DOUBLE))"
    )
    return f"""
WITH items AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS item
  FROM {table} WHERE {group_col} IS NOT NULL AND {item_col} IS NOT NULL
),
item_counts AS (SELECT item, COUNT(*) AS n_item FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS n_both
  FROM items a JOIN items b ON a.g = b.g AND a.item <> b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_support}
),
ng AS (SELECT COUNT(DISTINCT g) AS n_groups FROM items)
SELECT antecedent, consequent, n_both,
  ca.n_item AS n_antecedent, cb.n_item AS n_consequent,
  CAST({ROUND6.format(x=conf.replace("n_antecedent", "ca.n_item"))} AS DOUBLE) AS confidence,
  CAST({ROUND6.format(x=lift.replace("n_antecedent", "ca.n_item").replace("n_consequent", "cb.n_item"))} AS DOUBLE) AS lift
FROM pairs
JOIN item_counts ca ON pairs.antecedent = ca.item
JOIN item_counts cb ON pairs.consequent = cb.item
CROSS JOIN ng
ORDER BY lift DESC, confidence DESC, antecedent ASC, consequent ASC
LIMIT {k}
"""
