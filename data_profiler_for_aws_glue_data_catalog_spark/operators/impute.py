"""Null imputation transforms (mean / median / mode / constant fill).

The standard pre-training cleanup: replace NULLs with a statistic of
the column. Strategies:

- ``mean``   : DECIMAL-accumulated mean, ROUND6'd (numeric out);
- ``median`` : exact percentile 0.5, ROUND6'd (numeric out);
- ``mode``   : most frequent non-null value, ties broken by value
               ascending (any type, kept as string for determinism);
- ``const:X``: literal X.

Plan shape: ONE fused 1-row aggregate computes every mean/median
(zero shuffles); each mode adds one tiny value-frequency aggregate
(its own combine-friendly shuffle); the stats broadcast back and the
fill is a map-side coalesce. Schema: imputed numeric columns become
double (the statistic's type); mode-imputed columns become string.

Scale notes (100 TB): one scan + k tiny mode shuffles; exact median
carries the usual O(n)-state caveat (outliers.py) — swap means for
medians on unbounded columns if that bites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6


def impute(df: DataFrame, strategies: dict[str, str]) -> DataFrame:
    """Fill NULLs per ``strategies`` (see module docstring); unlisted
    columns pass through unchanged."""
    stat_exprs = []
    for c, s in strategies.items():
        # domain guard + finite-only order statistics (r8 float-specials
        # axis): a column containing NaN/±Inf or |v| >= 1e21 takes the
        # IEEE mean (ANSI cast-to-decimal would throw); the median is
        # defined over FINITE values (Spark sorts NaN last where DuckDB's
        # quantile poisons — stripping both sides is the one portable
        # semantic, and an imputation statistic should be finite anyway).
        cd = f"cast(`{c}` AS double)"
        fin = (
            f"CASE WHEN isnan({cd}) OR abs({cd}) = double('Infinity') "
            f"THEN NULL ELSE {cd} END"
        )
        if s == "mean":
            dec = (
                f"cast(sum(try_cast(`{c}` AS decimal(27,6))) AS double)"
                f" / count(`{c}`)"
            )
            mean = (
                f"CASE WHEN coalesce(max(abs({cd})) < 1e21, true) "
                f"THEN {dec} ELSE avg({cd}) END"
            )
            stat_exprs.append(
                f"cast({ROUND6.format(x=mean)} AS double) AS fill_{c}"
            )
        elif s == "median":
            stat_exprs.append(
                f"cast({ROUND6.format(x=f'percentile({fin}, 0.5)')} AS double) AS fill_{c}"
            )
    out = df
    if stat_exprs:
        stats = df.selectExpr(*stat_exprs)
        out = out.crossJoin(F.broadcast(stats))
    for c, s in strategies.items():
        if s == "mode":
            mode_row = (
                df.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("v"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("v"))
                .limit(1)
                .selectExpr(f"v AS fill_{c}")
            )
            out = out.crossJoin(F.broadcast(mode_row))
    cols = []
    for c in df.columns:
        s = strategies.get(c)
        if s is None:
            cols.append(F.col(c))
        elif s in ("mean", "median"):
            cols.append(
                F.coalesce(F.col(c).cast("double"), F.col(f"fill_{c}")).alias(c)
            )
        elif s == "mode":
            cols.append(
                F.coalesce(F.col(c).cast("string"), F.col(f"fill_{c}")).alias(c)
            )
        elif s.startswith("const:"):
            cols.append(
                F.coalesce(
                    F.col(c).cast("string"), F.lit(s.split(":", 1)[1])
                ).alias(c)
            )
        else:
            raise ValueError(f"impute: unknown strategy {s!r}")
    return out.select(*cols)


def impute_sql(
    table: str, all_columns: list[str], strategies: dict[str, str]
) -> str:
    """DuckDB mirror of impute."""
    stat_cols = []
    for c, s in strategies.items():
        # mirror of the engine's domain guard / finite-only median
        cd = f"CAST({c} AS DOUBLE)"
        fin = (
            f"CASE WHEN isnan({cd}) OR abs({cd}) = CAST('Infinity' AS DOUBLE) "
            f"THEN NULL ELSE {cd} END"
        )
        strip = f"CASE WHEN ABS({cd}) < 1e21 THEN {c} END"
        if s == "mean":
            dec = (
                f"CAST(SUM(CAST({strip} AS DECIMAL(27,6))) AS DOUBLE)"
                f" / COUNT({c})"
            )
            mean = (
                f"CASE WHEN COALESCE(MAX(ABS({cd})) < 1e21, TRUE) "
                f"THEN {dec} ELSE AVG({cd}) END"
            )
            stat_cols.append(
                f"CAST({ROUND6.format(x=mean)} AS DOUBLE) AS fill_{c}"
            )
        elif s == "median":
            stat_cols.append(
                f"CAST({ROUND6.format(x=f'quantile_cont({fin}, 0.5)')} AS DOUBLE) AS fill_{c}"
            )
    ctes = []
    if stat_cols:
        ctes.append(f"stats AS (SELECT {', '.join(stat_cols)} FROM {table})")
    joins = " CROSS JOIN stats" if stat_cols else ""
    for c, s in strategies.items():
        if s == "mode":
            ctes.append(
                f"mode_{c} AS (SELECT CAST({c} AS VARCHAR) AS fill_{c} FROM {table}"
                f" WHERE {c} IS NOT NULL GROUP BY 1"
                f" ORDER BY COUNT(*) DESC, 1 ASC LIMIT 1)"
            )
            joins += f" CROSS JOIN mode_{c}"
    outs = []
    for c in all_columns:
        s = strategies.get(c)
        if s is None:
            outs.append(c)
        elif s in ("mean", "median"):
            outs.append(f"COALESCE(CAST({c} AS DOUBLE), fill_{c}) AS {c}")
        elif s == "mode":
            outs.append(f"COALESCE(CAST({c} AS VARCHAR), fill_{c}) AS {c}")
        elif s.startswith("const:"):
            lit = s.split(":", 1)[1].replace("'", "''")
            outs.append(f"COALESCE(CAST({c} AS VARCHAR), '{lit}') AS {c}")
    with_clause = ("WITH " + ",\n".join(ctes) + "\n") if ctes else ""
    return f"{with_clause}SELECT {', '.join(outs)} FROM {table}{joins}"
