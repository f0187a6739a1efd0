"""Whole-row duplicate detection for arbitrary tables.

dedup.py handles text content; this is the table-generic version: rows
are identical iff their canonical serialization matches — every column
cast to string, NULL marked with a reserved sentinel, joined with a
unit separator (so ("ab","c") never collides with ("a","bc")).

Outputs the same summary shape as dedup_summary:
(n_rows, n_distinct_rows, n_dup_rows, n_redundant, dup_rate) — one
groupBy(row hash) shuffle plus a tiny fused aggregate.

Determinism note: Spark and DuckDB print identical strings for bigint,
double (shortest round-trip), string and date columns — the
serialization is oracle-mirrored term-for-term; exotic types (binary,
nested) should be pre-serialized by the caller.

Scale notes (100 TB): hash cardinality = distinct rows; the md5 keeps
shuffle rows at 32 bytes + count regardless of row width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

ROW_DEDUP_COLS = [
    "n_rows", "n_distinct_rows", "n_dup_rows", "n_redundant", "dup_rate",
]

def row_hash_expr(cols: list[str]) -> str:
    """SQL text of the canonical row hash over ``cols`` (char(0)/char(31)
    build the sentinel and separator bytes — no string-escape parsing)."""
    parts = ", ".join(
        f"coalesce(cast(`{c}` AS string), char(0))" for c in cols
    )
    return f"md5(concat_ws(char(31), {parts}))"


def duplicate_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Single-row whole-row duplication summary over ``cols``
    (default: every column)."""
    cols = list(cols or df.columns)
    groups = df.selectExpr(f"{row_hash_expr(cols)} AS h").groupBy("h").agg(
        F.count(F.lit(1)).alias("sz")
    )
    agg = groups.agg(
        F.sum("sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_rows"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(F.lit(0))).alias(
            "n_dup_rows"
        ),
    )
    rate = "cast(n_rows - n_distinct_rows AS double) / cast(n_rows AS double)"
    return agg.selectExpr(
        "n_rows", "n_distinct_rows", "n_dup_rows",
        "n_rows - n_distinct_rows AS n_redundant",
        f"cast({ROUND6.format(x=rate)} AS double) AS dup_rate",
    ).select(*ROW_DEDUP_COLS)


def duplicate_rows_sql(table: str, cols: list[str]) -> str:
    """DuckDB mirror (chr() builds the same sentinel/separator bytes)."""
    parts = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in cols
    )
    rate = (
        "CAST(n_rows - n_distinct_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)"
    )
    return f"""
WITH groups AS (
  SELECT md5(concat_ws(chr(31), {parts})) AS h, COUNT(*) AS sz
  FROM {table} GROUP BY 1
),
agg AS (
  SELECT SUM(sz) AS n_rows, COUNT(*) AS n_distinct_rows,
    SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS n_dup_rows
  FROM groups
)
SELECT n_rows, n_distinct_rows, n_dup_rows,
  n_rows - n_distinct_rows AS n_redundant,
  CAST({ROUND6.format(x=rate)} AS DOUBLE) AS dup_rate
FROM agg
"""


WITHIN_COLS = ["key", "key_nulls", "event_id", "ts", "is_dup", "gap_s"]


def dedup_within_interval(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    max_gap_seconds: int = 600,
) -> DataFrame:
    """Batch time-tolerance dedup: flag an event as a duplicate when the
    SAME key fired within ``max_gap_seconds`` before it (double-sent
    webhooks, retried ingestion, bounced clicks). The batch sibling of
    ``stream_dedup_within_watermark`` — identical "duplicates beyond the
    horizon both survive" semantics, so backfills and the live stream
    agree.

    Per-key lag window (one shuffle). Chained bursts: each event
    compares to its immediate predecessor, so A..B..C at 4-minute gaps
    marks B and C both dup (predecessor within tolerance), matching the
    watermark-dedup behavior of a state entry refreshed per arrival.

    Output: one row per event with its composite key, a NULL bitmap for
    the key parts, dup flag, and the gap to the predecessor (NULL for a
    key's first event).

    NULL key parts render as the printable sentinel '∅' (U+2205) —
    concat_ws SKIPS nulls, which would conflate (NULL, 'error') with
    ('error',) and split from the oracle's NULL-propagating '||' (found
    by the skew fuzz axis' NULL-key variant). A key column whose real
    value is exactly '∅' would still render identically, so the true
    dedup key is (key, key_nulls): ``key_nulls`` is a '0'/'1' bitmap of
    which parts were NULL, making the sentinel collision impossible
    (round-8 advice) while keeping the display string readable.
    """
    key = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("∅"))
            for c in key_cols
        ],
    )
    nulls = F.concat(
        *[
            F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0"))
            for c in key_cols
        ]
    )
    w = Window.partitionBy("key", "key_nulls").orderBy("_ts", "_id")
    base = df.where(F.col(ts_col).isNotNull()).select(
        key.alias("key"),
        nulls.alias("key_nulls"),
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
    )
    lagged = base.select(
        "key",
        "key_nulls",
        "_id",
        "_ts",
        (
            F.unix_timestamp("_ts") - F.unix_timestamp(F.lag("_ts").over(w))
        ).alias("gap_s"),
    )
    return lagged.select(
        "key",
        "key_nulls",
        F.col("_id").alias("event_id"),
        F.col("_ts").alias("ts"),
        (F.col("gap_s") <= max_gap_seconds).alias("is_dup"),
        "gap_s",
    ).withColumn("is_dup", F.coalesce(F.col("is_dup"), F.lit(False)))


def dedup_within_interval_sql(
    table: str,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    max_gap_seconds: int = 600,
) -> str:
    """DuckDB mirror of :func:`dedup_within_interval` (same '∅' NULL
    sentinel display key + '0'/'1' NULL-bitmap dedup key)."""
    key = " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), '∅')" for c in key_cols
    )
    nulls = " || ".join(
        f"CASE WHEN {c} IS NULL THEN '1' ELSE '0' END" for c in key_cols
    )
    return f"""
WITH base AS (
  SELECT ({key}) AS key, ({nulls}) AS key_nulls, {id_col} AS _id, {ts_col} AS _ts
  FROM {table} WHERE {ts_col} IS NOT NULL
),
lagged AS (
  SELECT key, key_nulls, _id, _ts,
    CAST(floor(epoch(_ts)) AS BIGINT)
      - CAST(floor(epoch(LAG(_ts) OVER (
            PARTITION BY key, key_nulls ORDER BY _ts, _id)))
             AS BIGINT) AS gap_s
  FROM base
)
SELECT key, key_nulls, _id AS event_id, _ts AS ts,
  COALESCE(gap_s <= {max_gap_seconds}, FALSE) AS is_dup, gap_s
FROM lagged
"""
