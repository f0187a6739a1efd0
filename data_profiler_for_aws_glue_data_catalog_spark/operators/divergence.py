"""Jensen-Shannon divergence between two categorical distributions.

Symmetric, bounded distribution distance (Lin 1991, public):
JSD(P||Q) = H(M) - (H(P)+H(Q))/2 with M = (P+Q)/2, equivalently
0.5*KL(P||M) + 0.5*KL(Q||M); natural log, range [0, ln 2]. The
categorical complement of psi.py's binned numeric drift — compare
event mixes, label distributions, source compositions between two
slices/snapshots.

Plan shape: each side collapses to its value frequencies (one
combine-friendly shuffle each), the two SMALL frequency relations
full-outer-join on the value (absent = probability 0), and per-value
divergence terms ROUND6 + DECIMAL-accumulate into one row — the
cross-value sum is order-free.

Scale notes (100 TB): data-sized work is the two frequency
aggregations; everything after is |categories|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

JSD_COLS = ["column", "n_left", "n_right", "n_categories", "jsd"]


def _freqs(df: DataFrame, col: str, side: str) -> DataFrame:
    return (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias(f"c_{side}"))
    )


def js_divergence(
    left: DataFrame, right: DataFrame, col: str
) -> DataFrame:
    """Single-row JSD between the two frames' distributions of ``col``
    (NULLs excluded; natural log)."""
    lf, rf = _freqs(left, col, "l"), _freqs(right, col, "r")
    joined = lf.join(rf, on="v", how="full_outer").select(
        F.coalesce(F.col("c_l"), F.lit(0)).alias("cl"),
        F.coalesce(F.col("c_r"), F.lit(0)).alias("cr"),
    )
    tot = joined.agg(
        F.sum("cl").alias("nl"), F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("k"),
    )
    cells = joined.crossJoin(F.broadcast(tot))
    p = "(cast(cl AS double) / cast(nl AS double))"
    q = "(cast(cr AS double) / cast(nr AS double))"
    m = f"(({p} + {q}) / 2.0)"
    # 0*ln(0/..) terms drop via the CASE guards
    term = (
        f"(CASE WHEN cl > 0 THEN 0.5 * {p} * ln({p} / {m}) ELSE 0.0 END)"
        f" + (CASE WHEN cr > 0 THEN 0.5 * {q} * ln({q} / {m}) ELSE 0.0 END)"
    )
    agg = cells.agg(
        F.expr(f"sum(cast({ROUND6.format(x=term)} AS decimal(27,6)))").alias(
            "jsd_dec"
        ),
        F.max("nl").alias("n_left"),
        F.max("nr").alias("n_right"),
        F.max("k").alias("n_categories"),
    )
    return agg.selectExpr(
        f"'{col}' AS column",
        "n_left", "n_right", "n_categories",
        f"cast({ROUND6.format(x='cast(jsd_dec AS double)')} AS double) AS jsd",
    ).select(*JSD_COLS)


def js_divergence_sql(left_sql: str, right_sql: str, col: str) -> str:
    """DuckDB mirror (same guards, rounding, decimal accumulation)."""
    p = "(CAST(cl AS DOUBLE) / CAST(nl AS DOUBLE))"
    q = "(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE))"
    m = f"(({p} + {q}) / 2.0)"
    term = (
        f"(CASE WHEN cl > 0 THEN 0.5 * {p} * ln({p} / {m}) ELSE 0.0 END)"
        f" + (CASE WHEN cr > 0 THEN 0.5 * {q} * ln({q} / {m}) ELSE 0.0 END)"
    )
    return f"""
WITH lf AS (
  SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS c_l
  FROM ({left_sql}) WHERE {col} IS NOT NULL GROUP BY 1
),
rf AS (
  SELECT CAST({col} AS VARCHAR) AS v, COUNT(*) AS c_r
  FROM ({right_sql}) WHERE {col} IS NOT NULL GROUP BY 1
),
joined AS (
  SELECT COALESCE(c_l, 0) AS cl, COALESCE(c_r, 0) AS cr
  FROM lf FULL OUTER JOIN rf USING (v)
),
tot AS (SELECT SUM(cl) AS nl, SUM(cr) AS nr, COUNT(*) AS k FROM joined),
agg AS (
  SELECT SUM(CAST({ROUND6.format(x=term)} AS DECIMAL(27,6))) AS jsd_dec,
    MAX(nl) AS n_left, MAX(nr) AS n_right, MAX(k) AS n_categories
  FROM joined CROSS JOIN tot
)
SELECT '{col}' AS "column", n_left, n_right, n_categories,
  CAST({ROUND6.format(x='CAST(jsd_dec AS DOUBLE)')} AS DOUBLE) AS jsd
FROM agg
"""


# ------------------------------------------------- Kolmogorov–Smirnov

KS_COLS = ["column", "n_left", "n_right", "ks", "ks_at"]


def ks_statistic(left: DataFrame, right: DataFrame, col: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic for a numeric column:
    ``max_x |F_left(x) - F_right(x)|`` over the empirical CDFs, plus the
    smallest value attaining it (deterministic tie-break).

    Plan shape: each side collapses to value frequencies (one
    combine-friendly shuffle each), the two frequency relations
    full-outer-join on the value, and one cumulative window ordered by
    value turns counts into CDFs.  The window runs over the DISTINCT-value
    relation, not the data — fine for discrete/moderate-cardinality
    columns.  For continuous doubles at 100 TB the distinct relation is
    data-sized and a single-partition window would bottleneck: pre-bucket
    with `F.round(col, d)` / psi.py binning first (the statistic then
    lower-bounds true KS by at most the bucket mass).

    Determinism: CDF fractions are integer/integer double divisions —
    bit-identical across engines, so the max and argmin tie-break
    hash-match the DuckDB oracle exactly.
    """
    lf = (
        left.where(F.col(col).isNotNull())
        .select(F.col(col).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cl"))
    )
    rf = (
        right.where(F.col(col).isNotNull())
        .select(F.col(col).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    f = lf.join(rf, on="v", how="full_outer").select(
        "v",
        F.coalesce(F.col("cl"), F.lit(0)).alias("cl"),
        F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
    )
    # adaptive distributed prefix sums: plain window for small distinct
    # relations, two-phase cumsum when the value domain is data-sized.
    # f feeds three consumers (adaptive count, CDF, totals): materialize
    # once so the two scans + aggs + join run exactly once.
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
        materialize,
        partitioned_prefix_sums,
    )

    f = materialize(f)
    cdf = partitioned_prefix_sums(f, "v", ["cl", "cr"], pinned=True).select(
        "v",
        F.col("cum_cl").alias("cuml"),
        F.col("cum_cr").alias("cumr"),
    )
    tot = f.agg(F.sum("cl").alias("nl"), F.sum("cr").alias("nr"))
    d = cdf.crossJoin(F.broadcast(tot)).select(
        "v",
        "nl",
        "nr",
        F.abs(
            F.col("cuml").cast("double") / F.col("nl").cast("double")
            - F.col("cumr").cast("double") / F.col("nr").cast("double")
        ).alias("d"),
    )
    return d.agg(
        F.lit(col).alias("column"),
        F.max("nl").alias("n_left"),
        F.max("nr").alias("n_right"),
        F.max("d").alias("ks"),
        F.min_by("v", F.struct(F.negate(F.col("d")), F.col("v"))).alias("ks_at"),
    )


def ks_statistic_sql(left_sql: str, right_sql: str, col: str) -> str:
    """DuckDB mirror of :func:`ks_statistic` (same CDF windows)."""
    return f"""
WITH lf AS (
  SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS cl
  FROM ({left_sql}) WHERE {col} IS NOT NULL GROUP BY 1
),
rf AS (
  SELECT CAST({col} AS DOUBLE) AS v, COUNT(*) AS cr
  FROM ({right_sql}) WHERE {col} IS NOT NULL GROUP BY 1
),
f AS (
  SELECT v, COALESCE(cl, 0) AS cl, COALESCE(cr, 0) AS cr
  FROM lf FULL OUTER JOIN rf USING (v)
),
cdf AS (
  SELECT v,
    SUM(cl) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuml,
    SUM(cr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumr
  FROM f
),
tot AS (SELECT SUM(cl) AS nl, SUM(cr) AS nr FROM f),
d AS (
  SELECT v, nl, nr,
    ABS(CAST(cuml AS DOUBLE) / CAST(nl AS DOUBLE)
      - CAST(cumr AS DOUBLE) / CAST(nr AS DOUBLE)) AS d
  FROM cdf CROSS JOIN tot
)
SELECT '{col}' AS "column", MAX(nl) AS n_left, MAX(nr) AS n_right,
  MAX(d) AS ks,
  (SELECT v FROM d ORDER BY d DESC, v ASC LIMIT 1) AS ks_at
FROM d
"""
