"""Join-key skew diagnostics: per-key distribution stats + hot keys.

At 100 TB the question that decides a join strategy is "how skewed is
this key?" — one hot key turns a clean hash join into a straggler
stage. This operator answers it from data:

* ``skew_summary`` — per key column: row/key counts, max and mean
  per-key multiplicity, the skew ratio (max/mean), exact p50/p99 of the
  per-key count distribution, and a suggested salt bucket count
  (ceil(skew ratio), 1 = no salting needed). Feed the suggestion to
  salted-join/aggregation strategies (similarity._ranked_topk's
  salt_buckets, AQE skew-join thresholds).
* ``hot_keys`` — the top-k hottest values per key column with their
  row share; the candidates for broadcast-side filtering or per-key
  handling.

Plan shape: ALL key columns share ONE shuffle — an Expand emits
(column, value-string) pairs, one hash aggregation builds every key's
frequency table (the frequency_states shape), and the summary/top-k
finish over |distinct keys| rows only. Map-side combine bounds hot-key
pressure in the shuffle itself; top-k per column is a bounded window
over the (small) frequency relation.

Determinism: counts are exact; mean/skew are fixed double expressions
over exact integers; p50/p99 use linear-interpolated exact percentile
(Spark ``percentile`` == DuckDB ``quantile_cont``), ROUND6'd.
Tie-break for hot keys: count DESC, value-string ASC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import duck_str, sql_ident, sql_str

SUMMARY_COLS = [
    "key_col", "n_rows", "n_keys", "max_cnt", "avg_cnt",
    "skew_ratio", "p50_cnt", "p99_cnt", "suggested_salt_buckets",
]

HOT_COLS = ["key_col", "key_value", "cnt", "share"]


def key_frequency(df: DataFrame, keys: list[str]) -> DataFrame:
    """(key_col, key_value, cnt) for every key column in ONE shuffle.

    Values are cast to string (injective per column type); NULL keys form
    their own group — they matter for skew (null-heavy foreign keys are
    the classic straggler)."""
    if not keys:
        raise ValueError("key_frequency: need at least one key column")
    pairs = ", ".join(
        f"named_struct('key_col', {sql_str(k)}, "
        f"'key_value', cast({sql_ident(k)} AS string))"
        for k in keys
    )
    return (
        df.selectExpr(f"inline(array({pairs}))")
        .groupBy("key_col", "key_value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def skew_summary(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per key column: count distribution stats + salting suggestion."""
    freq = key_frequency(df, keys)
    avg = "cast(n_rows AS double) / cast(n_keys AS double)"
    skew = f"cast(max_cnt AS double) / ({avg})"
    return (
        freq.groupBy("key_col")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
            F.expr("percentile(cnt, 0.5)").alias("_p50"),
            F.expr("percentile(cnt, 0.99)").alias("_p99"),
        )
        .selectExpr(
            "key_col",
            "n_rows",
            "n_keys",
            "max_cnt",
            f"cast({ROUND6.format(x=avg)} AS double) AS avg_cnt",
            f"cast({ROUND6.format(x=skew)} AS double) AS skew_ratio",
            f"cast({ROUND6.format(x='_p50')} AS double) AS p50_cnt",
            f"cast({ROUND6.format(x='_p99')} AS double) AS p99_cnt",
            f"cast(ceil({skew}) AS bigint) AS suggested_salt_buckets",
        )
        .select(*SUMMARY_COLS)
    )


def hot_keys(df: DataFrame, keys: list[str], k: int = 10) -> DataFrame:
    """Top-k hottest values per key column with their row share."""
    freq = key_frequency(df, keys)
    totals = freq.groupBy("key_col").agg(F.sum("cnt").alias("_total"))
    w = Window.partitionBy("key_col").orderBy(
        F.desc("cnt"), F.asc_nulls_first("key_value")
    )
    return (
        freq.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .join(F.broadcast(totals), "key_col")
        .selectExpr(
            "key_col",
            "key_value",
            "cnt",
            f"cast({ROUND6.format(x='cast(cnt AS double) / cast(_total AS double)')} "
            "AS double) AS share",
        )
        .select(*HOT_COLS)
    )


def skew_summary_sql(table: str, keys: list[str]) -> str:
    """DuckDB mirror of skew_summary."""
    avg = "CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)"
    skew = f"CAST(max_cnt AS DOUBLE) / ({avg})"
    parts = [
        f"""
SELECT {duck_str(k)} AS key_col, n_rows, n_keys, max_cnt,
  CAST({ROUND6.format(x=avg)} AS DOUBLE) AS avg_cnt,
  CAST({ROUND6.format(x=skew)} AS DOUBLE) AS skew_ratio,
  CAST({ROUND6.format(x='p50')} AS DOUBLE) AS p50_cnt,
  CAST({ROUND6.format(x='p99')} AS DOUBLE) AS p99_cnt,
  CAST(ceil({skew}) AS BIGINT) AS suggested_salt_buckets
FROM (
  SELECT sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt,
    quantile_cont(cnt, 0.5) AS p50, quantile_cont(cnt, 0.99) AS p99
  FROM (SELECT CAST({k} AS VARCHAR) AS v, count(*) AS cnt
        FROM {table} GROUP BY CAST({k} AS VARCHAR))
)"""
        for k in keys
    ]
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


def hot_keys_sql(table: str, keys: list[str], k: int = 10) -> str:
    """DuckDB mirror of hot_keys (same count-desc value-asc tie-break)."""
    parts = [
        f"""
SELECT {duck_str(key)} AS key_col, key_value, cnt,
  CAST({ROUND6.format(x='CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)')} AS DOUBLE) AS share
FROM (
  SELECT key_value, cnt,
    SUM(cnt) OVER () AS total,
    ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value ASC NULLS FIRST) AS rk
  FROM (SELECT CAST({key} AS VARCHAR) AS key_value, count(*) AS cnt
        FROM {table} GROUP BY CAST({key} AS VARCHAR))
)
WHERE rk <= {k}"""
        for key in keys
    ]
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
