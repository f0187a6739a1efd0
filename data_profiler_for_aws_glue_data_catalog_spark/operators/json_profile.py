"""Semi-structured (JSON string column) profiling: key presence + types.

Catalog tables carry JSON payload columns the scalar profiler skips
(the reference silently ignores anything non-scalar, Main.scala:286-292).
This operator discovers the key space of a JSON object column and
profiles each key: presence count/ratio and a value-type histogram
(classified with the type_inference regex battery over the extracted
value text, so JSON numbers vs strings vs booleans are distinguished
without a schema).

Plan shape: ONE pass — ``from_json(col, 'map<string,string>')`` +
``explode`` emit (key, value-text) pairs, one hash aggregation groups
by key (map-side combine bounds hot keys); the presence ratio divides
by a broadcast 1-row total (no second scan of the table, the
histogram-totals pattern). No per-key jobs, no driver-side key
discovery: the key space is data-defined and stays distributed.

Parse laxness: invalid JSON rows produce a NULL map (no pairs) —
mirrored in DuckDB with try_cast(col AS JSON). Non-object JSON values
(bare scalars/arrays) also contribute no pairs. Keys are extracted
per-key on the oracle side via ``json_extract_string(col, '$.' || key)``
— keys containing ``.``, ``"`` or ``'`` would break that path syntax
(fine for telemetry-style payloads; quote-escape the path if your keys
need it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.operators.type_inference import (
    BOOL_RE,
    FRAC_RE,
    INT_RE,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import duck_str, sql_ident, sql_str

JSON_COLS = [
    "key", "n_present", "presence_ratio",
    "n_boolean", "n_integral", "n_fractional", "n_other",
]


def json_profile(df: DataFrame, col: str) -> DataFrame:
    """(key, n_present, presence_ratio, n_boolean, n_integral,
    n_fractional, n_other) per JSON object key."""
    q = sql_ident(col)
    pairs = df.selectExpr(
        f"explode(from_json({q}, 'map<string,string>')) AS (key, val)"
    )
    per_key = pairs.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.expr(f"count(CASE WHEN val RLIKE {sql_str(BOOL_RE)} THEN 1 END)").alias("n_boolean"),
        F.expr(f"count(CASE WHEN val RLIKE {sql_str(INT_RE)} THEN 1 END)").alias("n_integral"),
        F.expr(f"count(CASE WHEN val RLIKE {sql_str(FRAC_RE)} THEN 1 END)").alias("n_fractional"),
    )
    total = df.selectExpr("count(1) AS _total")
    ratio = "cast(n_present AS double) / cast(_total AS double)"
    return (
        per_key.crossJoin(F.broadcast(total))
        .selectExpr(
            "key",
            "n_present",
            f"cast({ROUND6.format(x=ratio)} AS double) AS presence_ratio",
            "n_boolean",
            "n_integral",
            "n_fractional",
            "n_present - n_boolean - n_integral - n_fractional AS n_other",
        )
        .select(*JSON_COLS)
    )


def json_profile_sql(table: str, col: str) -> str:
    """DuckDB mirror: json_keys + unnest + per-key extraction."""
    ratio = "CAST(n_present AS DOUBLE) / CAST(_total AS DOUBLE)"
    return f"""
WITH pairs AS (
  SELECT u.key AS key,
    json_extract_string(try_cast({col} AS JSON), '$.' || u.key) AS val
  FROM {table}, UNNEST(json_keys(try_cast({col} AS JSON))) AS u(key)
),
total AS (SELECT count(*) AS _total FROM {table})
SELECT key, n_present,
  CAST({ROUND6.format(x=ratio)} AS DOUBLE) AS presence_ratio,
  n_boolean, n_integral, n_fractional,
  n_present - n_boolean - n_integral - n_fractional AS n_other
FROM (
  SELECT key, count(*) AS n_present,
    count(CASE WHEN regexp_matches(val, {duck_str(BOOL_RE)}) THEN 1 END) AS n_boolean,
    count(CASE WHEN regexp_matches(val, {duck_str(INT_RE)}) THEN 1 END) AS n_integral,
    count(CASE WHEN regexp_matches(val, {duck_str(FRAC_RE)}) THEN 1 END) AS n_fractional
  FROM pairs GROUP BY key
), total
"""
