"""1-D Wasserstein (earth-mover) distance between two samples.

The integral complement of the KS statistic (divergence.py): KS reports
the worst POINT of CDF disagreement, W1 reports the total AREA between
the CDFs — `W1 = sum over adjacent distinct values of
|F_left - F_right| * (v_next - v)` — so it sees magnitude of drift, not
just existence (a 1% quantile shift across the whole range moves W1 but
barely moves KS). Standard metric for numeric-feature drift gates.

Plan shape: identical to ks_statistic — two frequency aggregations, a
full-outer value join, cumulative sums via the ADAPTIVE distributed
prefix-sum helper (plans/partitioning.py), then one ordered-window lead
for the gap to the next distinct value. Scale caveat matches KS:
the distinct-value relation drives the cum/lead windows; pre-bucket
continuous doubles when the domain is data-sized.

Determinism: CDF fractions are int/int double divisions; each area term
is ROUND12'd then DECIMAL-accumulated (order-free), the total ROUND6'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

# 12-dp rounding with the same saturation guard as ROUND6: Spark's
# floor(double) returns BIGINT, so x*1e12 above Long.Max (~9.2e18, i.e.
# |x| >= ~9.2e6) would silently saturate while DuckDB's floor stays
# double — pass such terms through unrounded on BOTH engines. W1 terms
# reach |cdf_gap|<=1 times value gaps up to ~2e12 (the 1e12 domain
# filter bounds values, not gaps), so this path is reachable. r9 fix.
ROUND12 = (
    "CASE WHEN abs({x}) < 9.0e6 "
    "THEN floor(({x}) * 1000000000000.0 + 0.5) / 1000000000000.0 "
    "ELSE ({x}) END"
)
# Parity-safe decimal->double finisher (r9). A plain CAST(dec AS DOUBLE)
# of a decimal(_,12) is double-rounded in DuckDB (int128 -> double, then
# /1e12) but single-rounded through Java BigDecimal in Spark — they
# disagree in the last ulp once |dec| > 2^53/1e12 ~ 9007, and ROUND6
# cannot absorb an ulp once |dec| > ~9e9 (grid finer than double
# resolution). Splitting first makes each cast a SINGLE rounding in BOTH
# engines: floor(s) is an integer decimal (int -> double is one
# correctly-rounded conversion everywhere), and s - floor(s) in [0,1)
# converts exactly (scaled int < 1e12 < 2^53); the final IEEE add is
# identical. Verified divergence-free over 405 random magnitudes to 1e14.
SPLIT_CAST = "(cast(floor({s}) AS double) + cast(({s}) - floor({s}) AS double))"

W1_COLS = ["column", "n_left", "n_right", "w1"]


def wasserstein_1d(left: DataFrame, right: DataFrame, col: str) -> DataFrame:
    """Single-row W1 distance between the two frames' distributions of a
    numeric column (NULLs excluded)."""
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
        materialize,
        partitioned_prefix_sums,
    )

    # W1 is defined over finite observations: NaN/±Inf (and |v| >= 1e12,
    # where a single CDF-gap term would leave the decimal(27,12) domain)
    # are excluded like NULLs on both sides — distance-to-infinite-mass
    # is infinite by definition, and the engines' specials arithmetic
    # diverges (Spark floor saturation vs DuckDB propagation, decimal
    # cast error vs NULL). r8 float-specials axis find.
    dom = f"coalesce(abs(cast(`{col}` AS double)) < 1e12, false)"
    lf = (
        left.where(F.col(col).isNotNull() & F.expr(dom))
        .select(F.col(col).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    rf = (
        right.where(F.col(col).isNotNull() & F.expr(dom))
        .select(F.col(col).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    f = lf.join(rf, on="v", how="full_outer").select(
        "v",
        F.coalesce(F.col("cl"), F.lit(0)).alias("cl"),
        F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
    )
    # f feeds three consumers (adaptive count, cumsums, totals):
    # materialize once so the two scans + aggs + join run exactly once.
    f = materialize(f)
    cum = partitioned_prefix_sums(f, "v", ["cl", "cr"], pinned=True)
    tot = f.agg(F.sum("cl").alias("nl"), F.sum("cr").alias("nr"))
    # gap to the next distinct value; the last value contributes no area
    wlead = Window.orderBy("v")
    terms = (
        cum.select(
            "v",
            "cum_cl",
            "cum_cr",
            (F.lead("v").over(wlead) - F.col("v")).alias("gap"),
        )
        .where(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(tot))
    )
    term_x = (
        "abs(CAST(cum_cl AS DOUBLE) / nl - CAST(cum_cr AS DOUBLE) / nr) * gap"
    )
    # Split every (nonnegative) term into integer + [0,1) fraction BEFORE
    # the order-invariant decimal accumulation: the direct double ->
    # decimal(27,12) cast of a term > ~9007 is itself double-rounded in
    # DuckDB (value*1e12 in double first) vs single-rounded in Spark.
    # floor(term) < 2e12 < 2^53 casts exactly to decimal(27,0) in both
    # engines; the fraction (exact by fp-subtraction of nearby values) is
    # ROUND12'd in pure double (identical IEEE ops, never saturates) and
    # lands exactly in decimal(13,12). The final doubles are re-assembled
    # via SPLIT_CAST with a fixed add order. r9 fix (ADVICE medium).
    terms = terms.selectExpr(
        "nl", "nr", f"cast({term_x} AS double) AS term"
    ).selectExpr(
        "nl",
        "nr",
        "cast(floor(term) AS decimal(27,0)) AS ti",
        "cast("
        + ROUND12.format(x="term - cast(floor(term) AS double)")
        + " AS decimal(13,12)) AS tf",
    )
    summed = terms.agg(
        F.max("nl").alias("n_left"),
        F.max("nr").alias("n_right"),
        F.expr("sum(ti)").alias("si"),
        F.expr("sum(tf)").alias("sf"),
    )
    raw = "(cast(si AS double) + " + SPLIT_CAST.format(s="sf") + ")"
    return summed.select(
        F.lit(col).alias("column"),
        "n_left",
        "n_right",
        F.expr("cast(" + ROUND6.format(x=raw) + " AS double)").alias("w1"),
    )


def wasserstein_1d_sql(left_sql: str, right_sql: str, col: str) -> str:
    """DuckDB mirror of :func:`wasserstein_1d` (same windows, rounding)."""
    r6, r12 = ROUND6.format, ROUND12.format
    term = "ABS(CAST(cum_cl AS DOUBLE) / nl - CAST(cum_cr AS DOUBLE) / nr) * gap"
    return f"""
WITH lf AS (
  SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS cl
  FROM ({left_sql}) WHERE {col} IS NOT NULL
    AND COALESCE(ABS(CAST({col} AS DOUBLE)) < 1e12, FALSE) GROUP BY 1
),
rf AS (
  SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS cr
  FROM ({right_sql}) WHERE {col} IS NOT NULL
    AND COALESCE(ABS(CAST({col} AS DOUBLE)) < 1e12, FALSE) GROUP BY 1
),
f AS (
  SELECT v, COALESCE(cl, 0) AS cl, COALESCE(cr, 0) AS cr
  FROM lf FULL OUTER JOIN rf USING (v)
),
cum AS (
  SELECT v,
    SUM(cl) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_cl,
    SUM(cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_cr,
    LEAD(v) OVER (ORDER BY v) - v AS gap
  FROM f
),
tot AS (SELECT SUM(cl) AS nl, SUM(cr) AS nr FROM f),
terms AS (
  SELECT nl, nr, CAST({term} AS DOUBLE) AS term
  FROM cum CROSS JOIN tot WHERE gap IS NOT NULL
),
parts AS (
  SELECT nl, nr, CAST(floor(term) AS DECIMAL(27,0)) AS ti,
    CAST({r12(x='term - CAST(floor(term) AS DOUBLE)')} AS DECIMAL(13,12))
      AS tf
  FROM terms
),
summed AS (
  SELECT MAX(nl) AS n_left, MAX(nr) AS n_right,
    SUM(ti) AS si, SUM(tf) AS sf
  FROM parts
)
SELECT '{col}' AS "column", n_left, n_right,
  CAST({r6(x='(cast(si AS double) + ' + SPLIT_CAST.format(s='sf') + ')')}
    AS DOUBLE) AS w1
FROM summed
"""
