"""Zero-extra-scan profiling via the Observation API (SURVEY.md §4.3a).

``attach_scan_observation`` instruments a DataFrame so the scan-shareable
metrics are collected as a SIDE EFFECT of whatever action the caller runs
next — a sink write, an export, a downstream aggregation. At 100 TB the
dominant cost of profiling is the table scan itself; a pipeline that is
already scanning the table to move it gets the profile for free instead of
paying a second full scan.

Mechanics: ``df.observe(Observation, *agg_exprs)`` plants a CollectMetrics
node; executors accumulate the aggregates during the job and ship one tiny
metrics row to the driver when the first action on the observed frame
finishes. No extra job, no shuffle.

Covered metrics: Size, Completeness, Min/MaxLength, Maximum/Minimum/Sum/
Mean/StandardDeviation, ApproxCountDistinct, ApproxQuantiles — the whole
fused-scan surface of ``scan_metrics_long``. NOT covered (Spark
restriction: observed expressions cannot contain DISTINCT aggregates, and
frequency metrics need a groupBy shuffle): Distinctness, CountDistinct,
Entropy, Histogram, Uniqueness, UniqueValueRatio — run the frequency pass
for those; they are gated behind compute_expensive in the reference anyway
(README:58).

RAW-MOMENT DESIGN (the perf contract). CollectMetrics aggregates run
OUTSIDE whole-stage codegen — every expression is interpreted per row —
and unlike HashAggregate it does NOT dedup identical sub-aggregates, so
observing the fused pass's CASE-guarded Sum/Mean/StdDev expressions
verbatim evaluates the expensive decimal sum 3x and the guard max 3x
(measured ~16 s extra on a 600k x 16 lineitem scan that costs 0.6 s).
Instead each RAW MOMENT is observed exactly once per column — count,
max(abs) domain guard, decimal sum, decimal square-sum, IEEE fallbacks.
``ScanObservation.metrics`` puts the observed row into a one-row local
DataFrame and finishes it with scan_metrics.finish: the guard, the
branch choice and the variance arithmetic are the fused pass's own JVM
expressions over the observed moments, so the metrics match the fused
pass and its DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    Moments,
    aggregate_moments,
    finish,
    quantile_name,
    quantile_points,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
    metric_struct_sql,
    sql_ident,
)


@dataclass
class ScanObservation:
    """Handle returned by :func:`attach_scan_observation`.

    After the caller runs ANY action on the observed DataFrame, call
    :meth:`metrics` to get the long metrics relation. ``Observation.get``
    blocks until the action's metrics arrive, so no extra synchronization
    is needed.
    """

    observation: Observation
    schema: StructType  # of the observed row: one field per moment alias
    structs: list[str]  # metric structs over those aliases

    def metrics(self, spark: SparkSession) -> DataFrame:
        got = self.observation.get
        row = spark.createDataFrame(
            [tuple(got[f.name] for f in self.schema.fields)], self.schema
        )
        return row.selectExpr(f"inline(array({', '.join(self.structs)}))").select(
            *METRIC_COLS
        )


def attach_scan_observation(
    df: DataFrame,
    config: ProfilerConfig | None = None,
    include_approx: bool = True,
) -> tuple[DataFrame, ScanObservation]:
    """(observed_df, handle): run your own action on observed_df, then read
    ``handle.metrics(spark)``.

    The returned frame is ``df`` plus a CollectMetrics node — same rows,
    same schema, same plan underneath; chain your write/transform on it.
    """
    config = config or ProfilerConfig()
    df = T.cast_convertibles(df, config)

    profiled = [
        (f.name, T.classify(f.dataType, config), f.dataType.simpleString())
        for f in df.schema.fields
    ]
    profiled = [(c, k, t) for c, k, t in profiled if k is not None]

    exprs: list[str] = []
    structs: list[str] = []
    n = 0

    def add(expr: str) -> str:
        nonlocal n
        n += 1
        a = f"m{n}"
        exprs.append(f"({expr}) AS {a}")
        return a

    a_size = add("count(1)")
    structs.append(metric_struct_sql("Dataset", "*", "Size", a_size, None))

    for c, kind, typ in profiled:
        q = sql_ident(c)
        agg = aggregate_moments(q)
        a_cnt = add(agg.nonnull)
        extra: list[tuple[str, str]] = []
        if include_approx:
            a_acd = add(
                f"approx_count_distinct({q}, {config.approx_distinct_rsd!r})"
            )
            extra.append(("ApproxCountDistinct", a_acd))
        if kind == T.NUMERIC:
            # raw moments, each observed exactly once (see module docstring)
            moments = Moments(
                rows=a_size,
                nonnull=a_cnt,
                max=add(agg.max),
                min=add(agg.min),
                max_abs=add(agg.max_abs),
                sum_dec=add(f"cast({agg.sum_dec} AS double)"),
                sumsq_dec=add(f"cast({agg.sumsq_dec} AS double)"),
                sum_dbl=(a_ieee := add(agg.sum_dbl)),
                mean_dbl=f"try_divide({a_ieee}, {a_cnt})",
                sd_dbl=add(agg.sd_dbl),
            )
            if include_approx:
                pts = quantile_points(config.n_quantiles)
                pts_sql = ", ".join(repr(p) for p in pts)
                a_qs = add(
                    f"percentile_approx({q}, array({pts_sql}), "
                    f"{config.quantile_accuracy})"
                )
                extra += [
                    (quantile_name(p), f"element_at({a_qs}, {i + 1})")
                    for i, p in enumerate(pts)
                ]
        else:
            moments = Moments(
                rows=a_size,
                nonnull=a_cnt,
                max_len=add(agg.max_len),
                min_len=add(agg.min_len),
            )
        structs += [
            metric_struct_sql("Column", c, name, expr, typ)
            for name, expr in finish(kind, moments) + extra
        ]

    # the observed row's types: analysis only, no job
    schema = df.selectExpr(*exprs).schema
    obs = Observation()
    observed = df.observe(obs, *[F.expr(e) for e in exprs])
    return observed, ScanObservation(obs, schema, structs)
