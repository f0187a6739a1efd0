"""Training-set feature preparation: split quality + supervised encodings.

Three pre-training screens a data pipeline runs after profiling and
before feature export:

- ``split_leakage``: exact-content overlap between train and test
  splits (the classic eval-inflation bug). Composition of the engine's
  deterministic hash split (operators/sampling.py) and the exact-dedup
  content key (operators/dedup.py): one groupBy on content hash
  counting per-split occurrences — no join, one shuffle on the hash.
- ``woe_encode``: weight-of-evidence + information-value for a
  categorical feature against a binary label (standard credit-scoring
  encoding; 0.5 Laplace smoothing keeps single-class categories
  finite). One groupBy(category) + a broadcast 1-row total.
- ``best_split``: the 1-D decision-stump screen — for a numeric
  feature, the threshold maximizing information gain on a binary
  label, from cumulative pos/neg counts over the DISTINCT-value
  relation (same shape and scale caveat as the KS statistic:
  pre-bucket continuous doubles first).

Determinism: counts are integers; probabilities are fixed-shape double
divisions; ln() terms inherit the engine's 6-dp libm policy (ROUND6
before any cross-engine comparison or argmax).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.functions.text import normalized
from data_profiler_for_aws_glue_data_catalog_spark.operators.sampling import SPLIT_COL, train_test_split

LEAKAGE_COLS = [
    "n_train", "n_test", "n_leaked_test_rows", "n_leaked_contents"
]


def split_leakage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    test_rate: float = 0.2,
    seed: int = 0,
) -> DataFrame:
    """One-row leakage report for a hash split of ``df``: test rows whose
    normalized content also occurs in train."""
    s = train_test_split(df, test_rate, id_col, seed).select(
        F.md5(normalized(F.col(text_col))).alias("h"),
        (F.col(SPLIT_COL) == "test").cast("int").alias("is_test"),
    )
    per_content = s.groupBy("h").agg(
        F.sum("is_test").alias("t"), F.count(F.lit(1)).alias("n")
    )
    return per_content.agg(
        F.sum(F.col("n") - F.col("t")).alias("n_train"),
        F.sum("t").alias("n_test"),
        F.sum(F.when((F.col("t") > 0) & (F.col("n") > F.col("t")), F.col("t")).otherwise(0)).alias(
            "n_leaked_test_rows"
        ),
        F.sum(
            ((F.col("t") > 0) & (F.col("n") > F.col("t"))).cast("int")
        ).alias("n_leaked_contents"),
    )


def split_leakage_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    test_rate: float = 0.2,
    seed: int = 0,
) -> str:
    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import norm_sql, train_test_split_sql

    return f"""
WITH s AS (
  SELECT md5({norm_sql(text_col)}) AS h,
    CASE WHEN split = 'test' THEN 1 ELSE 0 END AS is_test
  FROM ({train_test_split_sql(test_rate, table, id_col, seed)})
),
pc AS (SELECT h, SUM(is_test) AS t, COUNT(*) AS n FROM s GROUP BY h)
SELECT SUM(n - t) AS n_train, SUM(t) AS n_test,
  SUM(CASE WHEN t > 0 AND n > t THEN t ELSE 0 END) AS n_leaked_test_rows,
  SUM(CASE WHEN t > 0 AND n > t THEN 1 ELSE 0 END) AS n_leaked_contents
FROM pc
"""


WOE_COLS = ["category", "n", "n_pos", "n_neg", "woe", "iv_term"]


def woe_encode(
    df: DataFrame, cat_col: str, label: Column
) -> DataFrame:
    """Per-category weight of evidence against a boolean ``label``:
    woe = ln( ((pos+0.5)/(P+0.5)) / ((neg+0.5)/(N+0.5)) ), plus the
    category's information-value term (dist_pos - dist_neg) * woe.

    The count operands are cast to DOUBLE explicitly: a bare ``n_pos +
    0.5`` types the literal DECIMAL(1,1), so Spark computes the whole
    ratio in scale-16 decimal division — truncated at digit 16, where
    IEEE keeps 17 — and ln() amplifies that into a 6th-decimal flip on
    adversarial counts (fuzz seed 10: woe -0.784465 vs the oracle's
    IEEE -0.784463). Both engines must take the double path."""
    g = (
        df.where(F.col(cat_col).isNotNull())
        .select(
            F.col(cat_col).cast("string").alias("category"),
            label.cast("int").alias("y"),
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
        )
    )
    tot = g.agg(
        F.sum("n_pos").alias("P"), F.sum("n_neg").alias("NG")
    )
    dp = "((CAST(n_pos AS DOUBLE) + 0.5) / (CAST(P AS DOUBLE) + 0.5))"
    dn = "((CAST(n_neg AS DOUBLE) + 0.5) / (CAST(NG AS DOUBLE) + 0.5))"
    woe = f"ln({dp} / {dn})"
    return g.crossJoin(F.broadcast(tot)).selectExpr(
        "category",
        "n",
        "n_pos",
        "n_neg",
        f"cast({ROUND6.format(x=woe)} AS double) AS woe",
        f"cast({ROUND6.format(x=f'({dp} - {dn}) * ({woe})')} AS double) AS iv_term",
    )


def woe_encode_sql(table: str, cat_col: str, label_sql: str) -> str:
    # same explicit DOUBLE path as woe_encode (decimal-division landmine)
    dp = "((CAST(n_pos AS DOUBLE) + 0.5) / (CAST(P AS DOUBLE) + 0.5))"
    dn = "((CAST(n_neg AS DOUBLE) + 0.5) / (CAST(NG AS DOUBLE) + 0.5))"
    woe = f"ln({dp} / {dn})"
    return f"""
WITH g AS (
  SELECT CAST({cat_col} AS VARCHAR) AS category,
    COUNT(*) AS n,
    SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS n_pos,
    COUNT(*) - SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS n_neg
  FROM {table} WHERE {cat_col} IS NOT NULL GROUP BY 1
),
tot AS (SELECT SUM(n_pos) AS P, SUM(n_neg) AS NG FROM g)
SELECT category, n, n_pos, n_neg,
  CAST({ROUND6.format(x=woe)} AS DOUBLE) AS woe,
  CAST({ROUND6.format(x=f'({dp} - {dn}) * ({woe})')} AS DOUBLE) AS iv_term
FROM g CROSS JOIN tot
"""


SPLIT_FIND_COLS = ["feature", "best_threshold", "info_gain", "n"]


def best_split(
    df: DataFrame, feature_col: str, label: Column
) -> DataFrame:
    """One-row decision-stump report: the threshold t of ``feature_col``
    (split: x <= t) maximizing information gain on the binary label,
    ties -> smallest t. Gain uses natural-log entropy; 0*ln(0) guarded.
    """
    base = df.where(F.col(feature_col).isNotNull()).select(
        F.col(feature_col).cast("double").alias("x"),
        label.cast("int").alias("y"),
    )
    freq = base.groupBy("x").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
        materialize,
        partitioned_prefix_sums,
    )

    # freq feeds three consumers (adaptive count, cumsums, totals):
    # materialize once so the scan + grouped agg run exactly once.
    freq = materialize(freq)
    cum = partitioned_prefix_sums(freq, "x", ["c", "p"], pinned=True).select(
        "x",
        F.col("cum_c").alias("nl"),
        F.col("cum_p").alias("pl"),
    )
    tot = freq.agg(
        F.sum("c").alias("n"), F.sum("p").alias("pt")
    )
    # entropy of a (pos, n) block, natural log, 0-guarded
    def hterm(p, n):
        q = f"(CAST({p} AS DOUBLE) / {n})"
        return (
            f"(CASE WHEN {p} > 0 AND {p} < {n} THEN "
            f"-({q} * ln({q}) + (1.0 - {q}) * ln(1.0 - {q})) ELSE 0.0 END)"
        )

    gain = (
        hterm("pt", "n")
        + " - ((CAST(nl AS DOUBLE) / n) * " + hterm("pl", "nl")
        + " + ((n - nl) / CAST(n AS DOUBLE)) * " + hterm("(pt - pl)", "(n - nl)")
        + ")"
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("n"))
        .selectExpr(
            "x", "n", f"cast({ROUND6.format(x=gain)} AS double) AS gain"
        )
    )
    pick = F.struct((-F.col("gain")).alias("ng"), F.col("x").alias("x"))
    return scored.agg(
        F.lit(feature_col).alias("feature"),
        F.min_by("x", pick).alias("best_threshold"),
        F.max("gain").alias("info_gain"),
        F.max("n").alias("n"),
    )


def best_split_sql(table: str, feature_col: str, label_sql: str) -> str:
    def hterm(p, n):
        q = f"(CAST({p} AS DOUBLE) / {n})"
        return (
            f"(CASE WHEN {p} > 0 AND {p} < {n} THEN "
            f"-({q} * ln({q}) + (1.0 - {q}) * ln(1.0 - {q})) ELSE 0.0 END)"
        )

    gain = (
        hterm("pt", "n")
        + " - ((CAST(nl AS DOUBLE) / n) * " + hterm("pl", "nl")
        + " + ((n - nl) / CAST(n AS DOUBLE)) * " + hterm("(pt - pl)", "(n - nl)")
        + ")"
    )
    return f"""
WITH base AS (
  SELECT CAST({feature_col} AS DOUBLE) AS x,
    CASE WHEN {label_sql} THEN 1 ELSE 0 END AS y
  FROM {table} WHERE {feature_col} IS NOT NULL
),
freq AS (SELECT x, COUNT(*) AS c, SUM(y) AS p FROM base GROUP BY x),
cum AS (
  SELECT x,
    SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS nl,
    SUM(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS pl
  FROM freq
),
tot AS (SELECT SUM(c) AS n, SUM(p) AS pt FROM freq),
scored AS (
  SELECT x, n, CAST({ROUND6.format(x=gain)} AS DOUBLE) AS gain
  FROM cum CROSS JOIN tot WHERE nl < n
)
SELECT '{feature_col}' AS feature,
  (SELECT x FROM scored ORDER BY gain DESC, x ASC LIMIT 1) AS best_threshold,
  MAX(gain) AS info_gain, MAX(n) AS n
FROM scored
"""
