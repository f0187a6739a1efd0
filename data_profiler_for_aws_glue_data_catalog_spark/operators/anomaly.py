"""Metric-history anomaly detection over profiler runs.

Deequ ships anomaly detection over a MetricsRepository (the reference app
doesn't wire it, but it is the standard companion workflow to the
profiler: append each run's metrics, compare the newest run against
history). Our durable Parquet sink (sinks/parquet_sink.py) IS that
repository — append-mode, one row per metric per run, keyed by
``profiler_run_ts``. This operator consumes any such history relation and
flags metrics whose latest value deviates from the prior runs.

Execution shape (100 TB notes)
------------------------------
One exchange total: the latest-run timestamp per metric key comes from a
window (max over the key partition) and the baseline statistics from a
grouped aggregation over the SAME key — Catalyst plans one hash partition
exchange feeding both (window sort, then partial-free aggregation), no
self-join, no second shuffle. The history relation is metrics rows
(O(runs x tables x columns x metrics)), never the data — cheap at any
data scale, and the shuffle is keyed by metric, so it scales out with
catalog width.

Determinism contract: values are 6-dp floor-rounded up front; the
zero-variance baseline test is an EXACT comparison (baseline min ==
baseline max of the rounded values — no reconstructed-float equality);
the z-score path accumulates exact decimals (scan_metrics policy; IEEE
fallback beyond the decimal domain) and finishes in a fixed double
expression, 6-dp rounded. The DuckDB oracle
(oracle_ext.metric_anomalies_sql) mirrors every term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    SQ_DECIMAL,
    SQ_GUARD_SQL,
    in_domain_sql,
)

ANOMALY_COLS = [
    "instance",
    "name",
    "n_runs",
    "current",
    "baseline_mean",
    "z",
    "is_anomaly",
]


def detect_anomalies(
    history: DataFrame,
    z_threshold: float = 3.0,
    min_baseline_runs: int = 2,
    ts_col: str = "profiler_run_ts",
    key_cols: tuple[str, ...] = ("entity", "instance", "name"),
) -> DataFrame:
    """Flag metrics whose latest run deviates from the run history.

    ``history``: a metrics relation carrying ``ts_col`` (one value per
    metric key per run — the parquet sink's read-back shape). Output, one
    row per key: (instance, name, n_runs, current, baseline_mean, z,
    is_anomaly) where ``z`` is the latest value's z-score against the
    PRIOR runs' population stats (NULL when the baseline is degenerate)
    and ``is_anomaly`` is true when

      |z| > z_threshold, or the baseline has zero variance and the latest
      value differs from it,

    requiring at least ``min_baseline_runs`` prior runs.
    """
    keys = list(key_cols)
    v6 = ROUND6.format(x="cast(value AS double)")
    src = history.selectExpr(
        *keys,
        f"cast({ts_col} AS timestamp) AS _ts",
        f"cast({v6} AS double) AS _v",
    ).withColumn("_max_ts", F.max("_ts").over(Window.partitionBy(*keys)))

    base = "_ts < _max_ts"
    in_dom = in_domain_sql(f"max(abs(_v)) FILTER (WHERE {base})", SQ_GUARD_SQL)
    s_dec = (
        f"cast(sum(cast(_v AS {SUM_DECIMAL})) FILTER (WHERE {base}) AS double)"
    )
    s2_dec = (
        f"cast(sum(cast(_v AS {SQ_DECIMAL}) * cast(_v AS {SQ_DECIMAL})) "
        f"FILTER (WHERE {base}) AS double)"
    )
    row = src.groupBy(keys).agg(
        F.expr("max_by(_v, _ts)").alias("current"),
        F.expr("cast(count(_v) AS double)").alias("_n"),
        F.expr(f"cast(count(_v) FILTER (WHERE {base}) AS double)").alias("_nb"),
        F.expr(f"min(_v) FILTER (WHERE {base})").alias("_minb"),
        F.expr(f"max(_v) FILTER (WHERE {base})").alias("_maxb"),
        F.expr(
            f"CASE WHEN {in_dom} THEN {s_dec} "
            f"ELSE sum(_v) FILTER (WHERE {base}) END"
        ).alias("_s"),
        F.expr(
            f"CASE WHEN {in_dom} THEN {s2_dec} "
            f"ELSE sum(_v * _v) FILTER (WHERE {base}) END"
        ).alias("_s2"),
    )

    mean_b = "try_divide(_s, _nb)"
    var_b = f"try_divide(_s2, _nb) - {mean_b} * {mean_b}"
    sd_b = f"sqrt(greatest({var_b}, 0.0D))"
    flat = "_minb = _maxb"  # exact: rounded inputs, no reconstructed floats
    z = (
        f"CASE WHEN {flat} THEN NULL "
        f"ELSE try_divide(current - ({mean_b}), nullif({sd_b}, 0.0D)) END"
    )
    anomaly = (
        f"_nb >= {min_baseline_runs} AND ("
        f"coalesce(abs({z}) > {z_threshold!r}, false) "
        f"OR ({flat} AND current <> _minb))"
    )
    return row.selectExpr(
        "instance",
        "name",
        "cast(_n AS bigint) AS n_runs",
        "current",
        f"cast({ROUND6.format(x=mean_b)} AS double) AS baseline_mean",
        f"cast({ROUND6.format(x=z)} AS double) AS z",
        f"coalesce({anomaly}, false) AS is_anomaly",
    ).select(*ANOMALY_COLS)


CHANGE_COLS = [
    "instance",
    "name",
    "n_runs",
    "current",
    "previous",
    "abs_change",
    "rel_rate",
    "abs_anomaly",
    "rel_anomaly",
]


def detect_changes(
    history: DataFrame,
    max_abs_decrease: float = 10.0,
    max_abs_increase: float = 10.0,
    min_rate: float = 0.8,
    max_rate: float = 1.25,
    ts_col: str = "profiler_run_ts",
    key_cols: tuple[str, ...] = ("entity", "instance", "name"),
) -> DataFrame:
    """Deequ's AbsoluteChange / RelativeRateOfChange strategies: compare
    the latest run against the PREVIOUS run only.

    Output per key: current, previous, abs_change = current - previous,
    rel_rate = current / previous (NULL when previous is 0 or there is
    no previous run), plus the two strategy verdicts:

      abs_anomaly: abs_change outside [-max_abs_decrease, max_abs_increase]
      rel_anomaly: rel_rate outside [min_rate, max_rate]

    Both FALSE when undecidable (single run; zero previous for the
    rate) — decidability is readable from previous/rel_rate being NULL.
    Same plan shape as detect_anomalies: one exchange keyed by metric,
    window max + grouped arg-max aggregation, no self-join.
    """
    keys = list(key_cols)
    v6 = ROUND6.format(x="cast(value AS double)")
    src = history.selectExpr(
        *keys,
        f"cast({ts_col} AS timestamp) AS _ts",
        f"cast({v6} AS double) AS _v",
    ).withColumn("_max_ts", F.max("_ts").over(Window.partitionBy(*keys)))
    base = "_ts < _max_ts"
    row = src.groupBy(keys).agg(
        F.expr("cast(count(_v) AS bigint)").alias("n_runs"),
        F.expr("max_by(_v, _ts)").alias("current"),
        F.expr(
            f"max_by(CASE WHEN {base} THEN _v END, "
            f"CASE WHEN {base} THEN _ts END)"
        ).alias("previous"),
    )
    abs_change = "current - previous"
    rel_rate = "try_divide(current, nullif(previous, 0.0D))"
    abs_anom = (
        f"CASE WHEN previous IS NULL THEN NULL "
        f"ELSE ({abs_change}) < {-float(max_abs_decrease)!r} "
        f"OR ({abs_change}) > {float(max_abs_increase)!r} END"
    )
    rel_anom = (
        f"CASE WHEN ({rel_rate}) IS NULL THEN NULL "
        f"ELSE ({rel_rate}) < {float(min_rate)!r} "
        f"OR ({rel_rate}) > {float(max_rate)!r} END"
    )
    return row.selectExpr(
        "instance",
        "name",
        "n_runs",
        "current",
        "previous",
        f"cast({ROUND6.format(x=abs_change)} AS double) AS abs_change",
        f"cast({ROUND6.format(x=rel_rate)} AS double) AS rel_rate",
        f"coalesce({abs_anom}, false) AS abs_anomaly",
        f"coalesce({rel_anom}, false) AS rel_anomaly",
    ).select(*CHANGE_COLS)
