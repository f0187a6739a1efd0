"""Windowed (time-bucketed) profiles — batch first, then streaming.

The reference profiles static catalog tables only; this extends the same
metric surface to event streams (SURVEY.md §7 Phase 5): per tumbling
window, the scan-shareable metric set of scan_metrics.py — Size;
Completeness per column; Maximum/Minimum/Sum/Mean/StandardDeviation
(deterministic decimal paths, same domain guards) on numerics;
MaxLength/MinLength on text.

Output model = the long metrics relation + window bounds:

    (window_start, window_end, entity, instance, name, value, type)

Scale design
------------
- ONE ``groupBy(window(ts, d))`` over one scan; every metric for every
  column is an aggregate expression in the SAME grouped agg, so the
  shuffle carries one partial-agg row per (input partition, window) —
  bytes ~ windows x columns x metrics, independent of row count. This is
  the windowed analogue of the fused scan pass.
- No per-window distinct metrics by default: exact count-distinct inside a
  grouped agg plans an Expand (input duplicated per distinct column),
  which multiplies THE WHOLE shuffle at stream scale.
  ``approx_distinct=True`` adds HLL++ ApproxCountDistinct instead — sketch
  buffers merge associatively, so the map-side combine stays intact
  (sketch metrics are rows-only in the correctness contract, same as the
  static profile).
- The streaming form is the SAME aggregation under ``readStream`` with a
  watermark; Spark maintains per-window state and emits finalized windows
  (append mode) once the watermark passes window end. State size ~ open
  windows x columns, not rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    aggregate_moments,
    finish,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    metric_struct,
    sql_ident,
)

WINDOW_COLS = ["window_start", "window_end"]


def _windowed_aggs(
    df: DataFrame,
    ts_col: str,
    config: ProfilerConfig,
    approx_distinct: bool,
) -> tuple[list[Column], list[Column]]:
    """(agg expressions, metric structs over their aliases)."""
    exprs: list[Column] = []
    structs: list[Column] = []
    n = 0

    def add(expr: Column, entity: str, instance: str, name: str, typ: str | None):
        nonlocal n
        n += 1
        a = f"m{n}"
        exprs.append(expr.alias(a))
        structs.append(metric_struct(entity, instance, name, F.col(a), typ))

    add(F.count(F.lit(1)), "Dataset", "*", "Size", None)
    for f in df.schema.fields:
        if f.name == ts_col:
            continue
        kind = T.classify(f.dataType, config)
        if kind is None:
            continue
        c, typ = f.name, f.dataType.simpleString()
        q = sql_ident(c)  # backtick/dot-safe reference
        for name, expr in finish(kind, aggregate_moments(q)):
            add(F.expr(expr), "Column", c, name, typ)
        if approx_distinct:
            add(
                F.approx_count_distinct(F.col(q), rsd=config.approx_distinct_rsd),
                "Column", c, "ApproxCountDistinct", typ,
            )
    return exprs, structs


def windowed_profile(
    df: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    config: ProfilerConfig | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Tumbling-window profile of a (batch) event table.

    One shuffle: ``groupBy(window(ts_col, d))`` with every metric fused
    into the grouped agg. Rows with NULL timestamps have no window and are
    excluded, matching the streaming semantics where unstamped events
    cannot be assigned to a window.
    """
    config = config or ProfilerConfig()
    exprs, structs = _windowed_aggs(df, ts_col, config, approx_distinct)
    grouped = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(*exprs)
    )
    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.explode(F.array(*structs)).alias("kv"),
    ).select(*WINDOW_COLS, "kv.*")


def windowed_profile_stream(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    config: ProfilerConfig | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """The same windowed profile as a Structured Streaming aggregation.

    ``stream`` comes from ``spark.readStream`` (file source, Kafka after
    parsing, rate source for tests). The watermark bounds state: windows
    older than (max event time - watermark) finalize and emit in append
    mode; late events beyond it are dropped — the documented completeness
    tradeoff of any streaming profile.

    Usage::

        q = (windowed_profile_stream(stream, "ts", "1 hour")
             .writeStream.outputMode("append")
             .trigger(availableNow=True)
             .format("parquet").option("path", out).start())
    """
    config = config or ProfilerConfig()
    exprs, structs = _windowed_aggs(stream, ts_col, config, approx_distinct)
    grouped = (
        stream.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(*exprs)
    )
    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.explode(F.array(*structs)).alias("kv"),
    ).select(*WINDOW_COLS, "kv.*")


def windowed_compliance(
    df: DataFrame,
    ts_col: str,
    rules=(),
    patterns=(),
    window_duration: str = "1 day",
) -> DataFrame:
    """Per tumbling window: the Compliance/PatternMatch rule fractions
    (operators/compliance.py semantics) — windowed data-quality
    monitoring over an event stream.

    One grouped agg over one scan: every rule is a conditional-count
    expression in the same ``groupBy(window(ts))``; shuffle bytes ~
    windows x rules, independent of row count (map-side combine). The
    streaming form (windowed_compliance_stream) is the same aggregation
    under a watermark.
    """
    from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_str

    exprs: list[Column] = []
    structs: list[Column] = []
    for i, r in enumerate(rules):
        a = f"c{i}"
        exprs.append(
            F.expr(
                f"try_divide(sum(CASE WHEN ({r.predicate_sql}) THEN 1 ELSE 0 END),"
                f" count(1))"
            ).alias(a)
        )
        structs.append(
            metric_struct("Dataset", r.name, "Compliance", F.col(a), None)
        )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for i, p in enumerate(patterns):
        a = f"p{i}"
        q = sql_ident(p.column)
        exprs.append(
            F.expr(
                f"try_divide(sum(CASE WHEN {q} IS NOT NULL AND "
                f"{q} RLIKE {sql_str(p.pattern)} THEN 1 ELSE 0 END), count({q}))"
            ).alias(a)
        )
        structs.append(
            metric_struct(
                "Column", p.column, f"PatternMatch.{p.name}", F.col(a),
                types.get(p.column),
            )
        )
    grouped = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.window(ts_col, window_duration).alias("w"))
        .agg(*exprs)
    )
    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.explode(F.array(*structs)).alias("kv"),
    ).select("window_start", "window_end", "kv.*")


def windowed_compliance_stream(
    stream: DataFrame,
    ts_col: str,
    rules=(),
    patterns=(),
    window_duration: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming form: identical aggregation under a watermark (append
    mode emits each window's fractions once finalized)."""
    return windowed_compliance(
        stream.withWatermark(ts_col, watermark),
        ts_col,
        rules,
        patterns,
        window_duration,
    )


DISTINCT_WINDOW_COLS = [
    "window_start", "window_end", "n_events", "n_distinct",
]


def windowed_distinct(
    df: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Exact distinct entities per tumbling window — the "hourly active
    users" query, batch form.

    ONE shuffle: count + count_distinct fuse into the same window
    aggregation (Catalyst plans the distinct via a single Expand; keys
    stay (window), so partial aggregation still collapses map-side).

    At 100 TB the exact distinct's state is O(distinct entities per
    window) — bounded by the entity universe, the usual web-scale case.
    For the streaming form use ``windowed_distinct_stream`` (HLL sketch,
    bounded state, approximate).
    """
    grouped = (
        df.where(F.col(ts_col).isNotNull() & F.col(entity_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(F.col(entity_col)).alias("n_distinct"),
        )
    )
    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "n_distinct",
    )


def windowed_distinct_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming approximate variant: HLL++ ``approx_count_distinct``
    keeps per-window state bounded (exact count_distinct state grows with
    the entity universe and is disallowed in append-mode streaming).
    Sketch-grade output: tolerance-tested, not hash-checked."""
    grouped = (
        stream.where(F.col(ts_col).isNotNull() & F.col(entity_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct(F.col(entity_col)).alias("n_distinct"),
        )
    )
    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "n_distinct",
    )


def windowed_distinct_sql(
    table: str,
    ts_col: str = "ts",
    entity_col: str = "user_id",
) -> str:
    """DuckDB mirror of the batch form (1-hour tumbling windows)."""
    return f"""
SELECT
  CAST(time_bucket(INTERVAL 1 HOUR, {ts_col}) AS TIMESTAMP) AS window_start,
  CAST(time_bucket(INTERVAL 1 HOUR, {ts_col}) + INTERVAL 1 HOUR AS TIMESTAMP)
    AS window_end,
  COUNT(*) AS n_events,
  COUNT(DISTINCT {entity_col}) AS n_distinct
FROM {table}
WHERE {ts_col} IS NOT NULL AND {entity_col} IS NOT NULL
GROUP BY 1, 2
"""


SLIDING_COLS = ["window_start", "key", "n_events", "n_users", "vsum"]


def sliding_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    entity_col: str = "user_id",
    value_col: str = "value",
    window_duration: str = "2 hours",
    slide_duration: str = "1 hour",
    exact_users: bool = True,
) -> DataFrame:
    """Overlapping (sliding) window aggregates per key — the trailing-2h
    dashboard view refreshed hourly.

    ``exact_users=False`` swaps the exact distinct for HLL++
    ApproxCountDistinct — REQUIRED for the streaming form (Structured
    Streaming rejects distinct aggregations; the sketch merges
    associatively into window state) and the windowed_profile policy for
    stream scale generally. The HLL estimate is deterministic for a
    given input, so streaming and batch approx runs agree exactly.

    ``F.window(ts, window, slide)`` plans ONE Expand that replicates each
    row into its window/slide memberships (here 2x) before a single
    grouped aggregation — rows fan out by the overlap factor, but there
    is still exactly one shuffle and full map-side partial aggregation.
    At 100 TB the overlap factor is the cost knob: a 24h window sliding
    hourly multiplies shuffle input 24x — prefer tumbling buckets +
    rolling sums (operators/rolling.py) when the factor gets large.
    The same expression runs as a Structured Streaming aggregation with
    a watermark (late rows join every window they fall in).
    """
    grouped = (
        df.where(
            F.col(ts_col).isNotNull()
            & F.col(key_col).isNotNull()
            & F.col(entity_col).isNotNull()
        )
        .groupBy(
            F.window(F.col(ts_col), window_duration, slide_duration).alias("w"),
            F.col(key_col).cast("string").alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.countDistinct(F.col(entity_col))
                if exact_users
                else F.approx_count_distinct(F.col(entity_col))
            ).alias("n_users"),
            F.sum(F.expr(f"try_cast({value_col} AS decimal(27,6))"))
            .cast("double")
            .alias("vsum"),
        )
    )
    return grouped.select(
        F.col("w.start").alias("window_start"), "key", "n_events", "n_users", "vsum"
    )


def sliding_window_counts_sql(
    table: str = "events",
    ts_col: str = "ts",
    key_col: str = "event_type",
    entity_col: str = "user_id",
    value_col: str = "value",
    window_seconds: int = 7200,
    slide_seconds: int = 3600,
) -> str:
    """DuckDB mirror: each row expands to the slide-aligned window starts
    s with s <= t < s + window (range arithmetic on epoch seconds)."""
    t = f"CAST(floor(epoch({ts_col})) AS BIGINT)"
    lo = f"CAST(floor(CAST(({t} - {window_seconds}) AS DOUBLE) / {slide_seconds}) AS BIGINT) + 1"
    hi = f"CAST(floor(CAST({t} AS DOUBLE) / {slide_seconds}) AS BIGINT)"
    return f"""
WITH expanded AS (
  SELECT CAST(to_timestamp(k * {slide_seconds}) AS TIMESTAMP) AS window_start,
    CAST({key_col} AS VARCHAR) AS key,
    {entity_col} AS ent, {value_col} AS v
  FROM {table}
  CROSS JOIN UNNEST(range({lo}, {hi} + 1)) AS t(k)
  WHERE {ts_col} IS NOT NULL AND {key_col} IS NOT NULL
    AND {entity_col} IS NOT NULL
)
SELECT window_start, key, COUNT(*) AS n_events,
  COUNT(DISTINCT ent) AS n_users,
  CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS vsum
FROM expanded GROUP BY window_start, key
"""
