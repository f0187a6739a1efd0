"""Aggregate reconciliation: header totals vs detail-line sums.

The accounting-style consistency audit between a rollup column and the
detail rows that should explain it — orders.o_totalprice vs the sum of
its lineitem charges, invoice headers vs items, daily rollups vs raw
events. Complements ref_integrity (existence) and table_diff (row
equality) with VALUE conservation: does the money add up?

Plan shape: aggregate the detail side FIRST (one shuffle on the key,
map-side combine), then an equi-join against the header — never a
header x detail row join. Output is per-key classes plus a one-row
summary helper. Decimal-exact sums; diffs are fixed-shape doubles
ROUND6'd before classification so the tolerance compare is
engine-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

RECON_COLS = ["key", "header_total", "detail_total", "diff", "status"]
SUMMARY_COLS = [
    "n_keys", "n_matched", "n_mismatched", "n_missing_detail",
    "abs_diff_total",
]


def reconcile_totals(
    header: DataFrame,
    detail: DataFrame,
    header_key: str,
    detail_key: str,
    header_total_col: str,
    detail_expr: Column,
    tolerance: float = 0.01,
) -> DataFrame:
    """Per header key: (key, header_total, detail_total, diff, status)
    with status in {matched, mismatched, missing_detail}.

    ``detail_expr`` is the per-detail-row contribution (any Column, e.g.
    extended price net of discount plus tax); headers with no detail
    rows class as missing_detail.

    The contribution is ROUND6'd in DOUBLE *before* the decimal cast:
    double->decimal(_,6) conversion is the one step where engines may
    legitimately disagree (Spark converts via the double's shortest
    decimal representation then HALF_UP; DuckDB scales the binary value
    — a value like 282437.6686905 lands on a 7th-digit .5 boundary and
    the two round apart; measured ~1.5e-5 per conversion on arbitrary
    doubles, found by the sf0.1 content fuzz). A 6-dp-pre-rounded double
    converts identically on both engines, and per-key detail sums are
    small enough that a 1e-6 wobble is visible through the final double
    cast. The mirror SQL applies the identical pre-round.
    """
    d = (
        detail.where(F.col(detail_key).isNotNull())
        .select(F.col(detail_key).alias("key"), detail_expr.alias("_raw"))
        .selectExpr("key", f"CAST({ROUND6.format(x='_raw')} AS {SUM_DECIMAL}) AS _x")
        .groupBy("key")
        .agg(F.sum("_x").cast("double").alias("detail_total"))
    )
    h = header.select(
        F.col(header_key).alias("key"),
        F.col(header_total_col).cast("double").alias("header_total"),
    )
    joined = h.join(d, "key", "left_outer")
    diff = ROUND6.format(x="header_total - detail_total")
    return joined.selectExpr(
        "key",
        "header_total",
        "detail_total",
        f"cast({diff} AS double) AS diff",
        f"CASE WHEN detail_total IS NULL THEN 'missing_detail' "
        f"WHEN abs(cast({diff} AS double)) <= {tolerance!r} THEN 'matched' "
        f"ELSE 'mismatched' END AS status",
    )


def reconcile_summary(recon: DataFrame) -> DataFrame:
    """One-row rollup of :func:`reconcile_totals` output."""
    return recon.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("status") == "matched").cast("int")).alias("n_matched"),
        F.sum((F.col("status") == "mismatched").cast("int")).alias("n_mismatched"),
        F.sum((F.col("status") == "missing_detail").cast("int")).alias(
            "n_missing_detail"
        ),
        F.expr(
            "cast(" + ROUND6.format(
                x="cast(sum(try_cast(abs(coalesce(diff, 0.0)) AS decimal(27,6)))"
                " AS double)"
            ) + " AS double)"
        ).alias("abs_diff_total"),
    )


def reconcile_totals_sql(
    header_table: str,
    detail_table: str,
    header_key: str,
    detail_key: str,
    header_total_col: str,
    detail_expr_sql: str,
    tolerance: float = 0.01,
) -> str:
    """DuckDB mirror of :func:`reconcile_totals`."""
    diff = ROUND6.format(x="header_total - detail_total")
    return f"""
WITH d AS (
  SELECT {detail_key} AS key,
    CAST(SUM(CAST({ROUND6.format(x=detail_expr_sql)} AS DECIMAL(27,6)))
      AS DOUBLE) AS detail_total
  FROM {detail_table} WHERE {detail_key} IS NOT NULL GROUP BY 1
),
h AS (
  SELECT {header_key} AS key, CAST({header_total_col} AS DOUBLE)
    AS header_total
  FROM {header_table}
)
SELECT h.key, header_total, detail_total,
  CAST({diff} AS DOUBLE) AS diff,
  CASE WHEN detail_total IS NULL THEN 'missing_detail'
       WHEN ABS(CAST({diff} AS DOUBLE)) <= {tolerance!r} THEN 'matched'
       ELSE 'mismatched' END AS status
FROM h LEFT OUTER JOIN d ON h.key = d.key
"""


def reconcile_summary_sql(recon_sql: str) -> str:
    x = ("CAST(SUM(CAST(ABS(COALESCE(diff, 0.0)) AS DECIMAL(27,6)))"
         " AS DOUBLE)")
    return f"""
SELECT COUNT(*) AS n_keys,
  SUM(CASE WHEN status = 'matched' THEN 1 ELSE 0 END) AS n_matched,
  SUM(CASE WHEN status = 'mismatched' THEN 1 ELSE 0 END) AS n_mismatched,
  SUM(CASE WHEN status = 'missing_detail' THEN 1 ELSE 0 END)
    AS n_missing_detail,
  CAST({ROUND6.format(x=x)} AS DOUBLE) AS abs_diff_total
FROM ({recon_sql})
"""
