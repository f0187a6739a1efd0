"""Sessionization of event streams (gap-based session windows).

A training-data/analytics pipeline staple the reference lacks entirely
(its only time handling is a driver-side run timestamp,
DataProfilerForAWSGlueDataCatalog.scala:234-242): group each user's events
into sessions separated by inactivity gaps, then aggregate per session.

Two forms, both built on Spark primitives:

- ``sessionize`` — per-EVENT session labels via gaps-and-islands: one
  window pass partitioned by user ordered by (ts, id); a session break is
  ``gap_from_previous > gap``, and the running sum of breaks is the
  per-user session ordinal. Exactly one shuffle (hash by user); the two
  window functions share it.
- ``session_stats`` — per-SESSION aggregates via the native
  ``F.session_window(ts, gap)`` grouped aggregation (Spark merges
  overlapping [ts, ts+gap) intervals per key). Same result as aggregating
  ``sessionize`` output, but expressed as ONE grouped agg — partial
  aggregation applies, and the identical expression works under
  Structured Streaming (``session_stats_stream``) where session state is
  merged incrementally and finalized by the watermark.

Scale notes (100 TB)
--------------------
- Both shapes shuffle once, keyed by user: the natural partitioning for
  any per-user computation; skewed power-users are AQE's skew-join/agg
  case. No driver involvement, no collect.
- ``sessionize`` sorts within partitions (window orderBy) — at scale
  prefer ``session_stats`` when only aggregates are needed: its partial
  agg merges session fragments map-side without a full sort of raw
  events.
- Gap comparisons use exact integer microseconds (``unix_micros``), so
  session assignment is deterministic and engine-portable (the DuckDB
  oracle mirrors it with epoch_us).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import SUM_DECIMAL


def _clean(
    events: DataFrame, ts_col: str, user_col: str
) -> DataFrame:
    """Events with a timestamp and a user key — rows lacking either cannot
    be assigned to a session (same exclusion rule as the windowed
    profile's NULL-timestamp handling)."""
    return events.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    gap: str = "4 hours",
) -> DataFrame:
    """(id, user, session_seq): label every event with its per-user
    session ordinal (1-based, in time order).

    A new session starts when the microsecond gap from the user's previous
    event exceeds ``gap``. Deterministic order: (ts, id) — simultaneous
    events tie-break on the event id.
    """
    gap_us = _gap_to_us(gap)
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col))
    new_session = (
        F.coalesce((us - F.lag(us).over(w)) > gap_us, F.lit(True))
    ).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        _clean(events, ts_col, user_col)
        .select(F.col(id_col), F.col(user_col), F.col(ts_col))
        .withColumn("_new", new_session)
        .select(
            F.col(id_col),
            F.col(user_col),
            F.sum("_new").over(run).cast("int").alias("session_seq"),
        )
    )


def session_stats(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap: str = "4 hours",
) -> DataFrame:
    """Per-session aggregates via the native session window:
    (user, session_start, session_end, n_events, sum_value).

    ``session_start`` = first event time; ``session_end`` = last event
    time + gap (Spark session-window semantics: the window stays open one
    whole gap past the last event). ``sum_value`` uses exact decimal
    accumulation -> partition-order invariant.
    """
    sw = F.session_window(F.col(ts_col), gap)
    return (
        _clean(events, ts_col, user_col)
        .groupBy(sw.alias("w"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                f"cast(sum(try_cast(`{value_col}` as {SUM_DECIMAL})) as double)"
            ).alias("sum_value"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_stats_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """``session_stats`` under Structured Streaming: identical aggregation
    with a watermark. Open sessions live in keyed state; a session
    finalizes (emits, append mode) once the watermark passes its end —
    state is bounded by open sessions per user, not stream length."""
    sw = F.session_window(F.col(ts_col), gap)
    return (
        _clean(stream, ts_col, user_col)
        .withWatermark(ts_col, watermark)
        .groupBy(sw.alias("w"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                f"cast(sum(try_cast(`{value_col}` as {SUM_DECIMAL})) as double)"
            ).alias("sum_value"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def _gap_to_us(gap: str) -> int:
    """'4 hours' / '30 minutes' / '90 seconds' -> microseconds."""
    n, unit = gap.split()
    mult = {
        "second": 1,
        "seconds": 1,
        "minute": 60,
        "minutes": 60,
        "hour": 3600,
        "hours": 3600,
        "day": 86400,
        "days": 86400,
    }[unit]
    return int(n) * mult * 1_000_000
