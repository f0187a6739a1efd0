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
max(abs) domain guard, decimal sum, decimal square-sum, IEEE fallbacks —
and the metric arithmetic (guard branch, mean division, variance finish)
runs in the Python finisher: a handful of IEEE double ops, bit-identical
to the JVM's finishing expressions (same operations, same order), matching
the same DuckDB oracle as the fused pass.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import SUM_DECIMAL
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    SQ_DECIMAL,
    SQ_GUARD,
    SUM_GUARD,
    quantile_name,
    quantile_points,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRICS_SCHEMA,
    sql_ident,
)

Row = tuple  # (entity, instance, name, value, type)


@dataclass
class ScanObservation:
    """Handle returned by :func:`attach_scan_observation`.

    After the caller runs ANY action on the observed DataFrame, call
    :meth:`metrics` to get the long metrics relation. ``Observation.get``
    blocks until the action's metrics arrive, so no extra synchronization
    is needed.
    """

    observation: Observation
    _finishers: list[Callable[[dict], list[Row]]] = field(default_factory=list)

    def metrics(self, spark: SparkSession) -> DataFrame:
        got = self.observation.get
        rows = [r for fin in self._finishers for r in fin(got)]
        return spark.createDataFrame(rows, METRICS_SCHEMA)


def _f(v) -> float | None:
    return None if v is None else float(v)


def _div(a: float | None, b: float | None) -> float | None:
    """try_divide semantics: NULL on NULL or zero denominator."""
    if a is None or not b:
        return None
    return a / b


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
    finishers: list[Callable[[dict], list[Row]]] = []
    n = 0

    def add(expr: str) -> str:
        nonlocal n
        n += 1
        a = f"m{n}"
        exprs.append(f"({expr}) AS {a}")
        return a

    a_size = add("count(1)")
    finishers.append(
        lambda got: [("Dataset", "*", "Size", _f(got[a_size]), None)]
    )

    for c, kind, typ in profiled:
        q = sql_ident(c)
        a_cnt = add(f"count({q})")

        def fin_completeness(got, a_cnt=a_cnt, c=c, typ=typ):
            return [
                (
                    "Column",
                    c,
                    "Completeness",
                    _div(_f(got[a_cnt]), got[a_size]),
                    typ,
                )
            ]

        finishers.append(fin_completeness)
        if include_approx:
            a_acd = add(
                f"approx_count_distinct({q}, {config.approx_distinct_rsd!r})"
            )
            finishers.append(
                lambda got, a=a_acd, c=c, typ=typ: [
                    ("Column", c, "ApproxCountDistinct", _f(got[a]), typ)
                ]
            )
        if kind == T.NUMERIC:
            # raw moments, each observed exactly once (see module docstring)
            a_max = add(f"max({q})")
            a_min = add(f"min({q})")
            a_guard = add(f"max(abs({q}))")
            a_dec = add(f"cast(sum(try_cast({q} AS {SUM_DECIMAL})) AS double)")
            a_sq = add(
                f"cast(sum(try_cast({q} AS {SQ_DECIMAL}) * "
                f"try_cast({q} AS {SQ_DECIMAL})) AS double)"
            )
            a_ieee = add(f"sum(cast({q} AS double))")
            a_sdfb = add(f"stddev_pop(cast({q} AS double))")

            def fin_numeric(
                got,
                c=c,
                typ=typ,
                a_cnt=a_cnt,
                a_max=a_max,
                a_min=a_min,
                a_guard=a_guard,
                a_dec=a_dec,
                a_sq=a_sq,
                a_ieee=a_ieee,
                a_sdfb=a_sdfb,
            ):
                cnt = got[a_cnt]
                guard = _f(got[a_guard])
                in_sum = guard is not None and guard < SUM_GUARD
                in_sq = guard is not None and guard < SQ_GUARD
                sx, ieee = _f(got[a_dec]), _f(got[a_ieee])
                total = sx if in_sum else ieee
                mean = _div(sx, cnt) if in_sum else _div(ieee, cnt)
                if in_sq:
                    sx2, nn = _f(got[a_sq]), float(cnt)
                    if cnt and sx2 is not None:
                        var = (sx2 - (sx * sx) / nn) / nn
                        sd = math.sqrt(max(var, 0.0))
                    else:
                        sd = None
                else:
                    sd = _f(got[a_sdfb])
                return [
                    ("Column", c, "Maximum", _f(got[a_max]), typ),
                    ("Column", c, "Minimum", _f(got[a_min]), typ),
                    ("Column", c, "Sum", total, typ),
                    ("Column", c, "Mean", mean, typ),
                    ("Column", c, "StandardDeviation", sd, typ),
                ]

            finishers.append(fin_numeric)
            if include_approx:
                pts = quantile_points(config.n_quantiles)
                pts_sql = ", ".join(repr(p) for p in pts)
                a_qs = add(
                    f"percentile_approx({q}, array({pts_sql}), "
                    f"{config.quantile_accuracy})"
                )

                def fin_quantiles(got, a=a_qs, c=c, typ=typ, pts=pts):
                    arr = got[a]
                    return [
                        (
                            "Column",
                            c,
                            quantile_name(p),
                            _f(None if arr is None else arr[i]),
                            typ,
                        )
                        for i, p in enumerate(pts)
                    ]

                finishers.append(fin_quantiles)
        else:
            a_maxl = add(f"max(length({q}))")
            a_minl = add(f"min(length({q}))")
            finishers.append(
                lambda got, a1=a_maxl, a2=a_minl, c=c, typ=typ: [
                    ("Column", c, "MaxLength", _f(got[a1]), typ),
                    ("Column", c, "MinLength", _f(got[a2]), typ),
                ]
            )

    obs = Observation()
    observed = df.observe(obs, *[F.expr(e) for e in exprs])
    return observed, ScanObservation(obs, finishers)
