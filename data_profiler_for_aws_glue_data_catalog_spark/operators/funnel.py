"""Ordered funnel analysis over event streams.

"How many users did view -> click -> purchase, in order?" — the funnel
primitive behind conversion analytics. First-match semantics: step k
matches its entity's EARLIEST event of that type occurring STRICTLY
after the step k-1 match (ties in timestamp do not advance the
funnel — the contract is strictly-increasing match times).

Plan shape: ONE ``groupBy(entity)`` — each entity's (ts, type) events
collect into an array, sort once, and a single ``aggregate`` fold walks
the sorted sequence with a (stage, last_ts) struct accumulator. All
built-in array functions inside codegen: no UDF and no per-step
self-join (the naive k-step formulation is k-1 joins) — one shuffle
total. Per-entity state is that entity's event list — bounded by
per-entity activity, the same assumption sessionization makes; cap
with a time-range filter for pathological entities.

The DuckDB mirror proves the semantics a second way: staged CTEs, each
step the min event time strictly after the previous step's join —
identical first-match results, so the fold is cross-checked against
the relational formulation rather than a re-encoding of itself.

``funnel`` emits per entity the deepest stage reached;
``funnel_summary`` per-stage survivor counts + conversion ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_str

_MIN_LONG = "-9223372036854775807"

FUNNEL_COLS = ["entity_id", "stages_reached"]


def funnel(
    events: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(entity_id, stages_reached) per entity with >= 1 event."""
    if not steps:
        raise ValueError("funnel: need at least one step")
    evs = (
        f"array_sort(collect_list(named_struct("
        f"'ts', cast({ts_col} AS long), 'tp', {type_col})))"
    )
    arms = " ".join(
        f"WHEN acc.k = {k} AND e.tp = {sql_str(s)} AND e.ts > acc.t "
        f"THEN named_struct('k', {k + 1}, 't', e.ts)"
        for k, s in enumerate(steps)
    )
    fold = (
        f"aggregate(evs, "
        f"named_struct('k', 0, 't', cast({_MIN_LONG} AS long)), "
        f"(acc, e) -> CASE {arms} ELSE acc END).k"
    )
    # NULL entities are untrackable (ordered behavior cannot be attributed
    # to an unknown id) and a grouped NULL would pool every anonymous
    # event into one trivially-converting pseudo-entity — exclude them,
    # same contract as funnel_step_times (found by the skew fuzz axis'
    # NULL-key variant: engine's NULL group read stage 3 while the
    # oracle's equi-joins dropped it)
    grouped = (
        events.where(F.col(entity_col).isNotNull())
        .groupBy(F.col(entity_col).alias("entity_id"))
        .agg(F.expr(evs).alias("evs"))
    )
    return grouped.selectExpr(
        "entity_id", f"{fold} AS stages_reached"
    ).select(*FUNNEL_COLS)


SUMMARY_COLS = ["stage", "step", "n_entities", "conversion"]


def funnel_summary(
    events: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per stage k (1-based): entities reaching >= k + conversion vs the
    total entity count."""
    f = funnel(events, steps, entity_col, ts_col, type_col)
    agg = f.selectExpr(
        "count(1) AS n_total",
        *[
            f"count(CASE WHEN stages_reached >= {k + 1} THEN 1 END) AS s_{k}"
            for k in range(len(steps))
        ],
    )
    structs = []
    for k, s in enumerate(steps):
        # try_divide: zero entities -> NULL conversion, not an ANSI error
        conv = f"try_divide(cast(s_{k} AS double), cast(n_total AS double))"
        structs.append(
            f"named_struct('stage', {k + 1}, 'step', {sql_str(s)}, "
            f"'n_entities', s_{k}, "
            f"'conversion', cast({ROUND6.format(x=conv)} AS double))"
        )
    return agg.selectExpr(
        f"inline(array({', '.join(structs)}))"
    ).select(*SUMMARY_COLS)


def _staged_ctes(
    table: str,
    steps: list[str],
    entity_col: str,
    ts_col: str,
    type_col: str,
) -> str:
    """ev + m1..mK CTE bodies: mK = each entity's step-k match time."""
    ctes = [
        f"ev AS (SELECT {entity_col} AS u, "
        f"CAST(floor(epoch({ts_col})) AS BIGINT) AS t, "
        f"{type_col} AS tp FROM {table} "
        f"WHERE {entity_col} IS NOT NULL)"
    ]
    for k, s in enumerate(steps, start=1):
        if k == 1:
            ctes.append(
                f"m1 AS (SELECT u, MIN(t) AS t FROM ev "
                f"WHERE tp = '{s}' GROUP BY u)"
            )
        else:
            ctes.append(
                f"m{k} AS (SELECT ev.u, MIN(ev.t) AS t "
                f"FROM ev JOIN m{k - 1} ON ev.u = m{k - 1}.u "
                f"WHERE ev.tp = '{s}' AND ev.t > m{k - 1}.t GROUP BY ev.u)"
            )
    return ",\n".join(ctes)


def funnel_sql(
    table: str,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB mirror via the staged relational formulation."""
    stage_expr = "CASE " + " ".join(
        f"WHEN m{k}.u IS NOT NULL THEN {k}"
        for k in range(len(steps), 0, -1)
    ) + " ELSE 0 END"
    joins = " ".join(
        f"LEFT JOIN m{k} ON e.u = m{k}.u" for k in range(1, len(steps) + 1)
    )
    return f"""
WITH {_staged_ctes(table, steps, entity_col, ts_col, type_col)}
SELECT e.u AS entity_id, {stage_expr} AS stages_reached
FROM (SELECT DISTINCT u FROM ev) e {joins}
"""


def funnel_summary_sql(
    table: str,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    sel = ", ".join(
        f"count(CASE WHEN stages_reached >= {k + 1} THEN 1 END) AS s_{k}"
        for k in range(len(steps))
    )
    parts = []
    for k, s in enumerate(steps):
        conv = f"CAST(s_{k} AS DOUBLE) / CAST(n_total AS DOUBLE)"
        parts.append(
            f"SELECT {k + 1} AS stage, '{s}' AS step, s_{k} AS n_entities, "
            f"CAST({ROUND6.format(x=conv)} AS DOUBLE) AS conversion FROM a"
        )
    return f"""
WITH f AS ({funnel_sql(table, steps, entity_col, ts_col, type_col)}),
a AS (SELECT count(*) AS n_total, {sel} FROM f)
{" UNION ALL ".join(parts)}
"""


TIMING_COLS = ["step", "stage", "n_entities", "median_gap_s", "mean_gap_s"]


def funnel_step_times(
    events: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert profile: for each step k >= 2, the distribution of
    seconds between reaching step k-1 and step k across entities that
    got there (exact median + decimal mean). The funnel's velocity view
    — where users stall, not just where they drop.

    Same greedy fold as :func:`funnel`, with the accumulator carrying
    the ARRIVAL TIME ARRAY instead of just the stage counter; one
    shuffle (the per-entity collect), plus a tiny per-step aggregate.
    """
    if len(steps) < 2:
        raise ValueError("funnel_step_times: need at least two steps")
    evs = (
        f"array_sort(collect_list(named_struct("
        f"'ts', cast({ts_col} AS long), 'tp', {type_col})))"
    )
    arms = " ".join(
        f"WHEN size(acc) = {k + 1} AND e.tp = {sql_str(s)} "
        f"AND e.ts > element_at(acc, -1) "
        f"THEN concat(acc, array(e.ts))"
        for k, s in enumerate(steps)
    )
    fold = (
        f"slice(aggregate(evs, array(cast({_MIN_LONG} AS long)), "
        f"(acc, e) -> CASE {arms} ELSE acc END), 2, {len(steps)})"
    )
    arrivals = (
        events.where(
            F.col(entity_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(type_col).isNotNull()
        )
        .groupBy(F.col(entity_col).alias("entity_id"))
        .agg(F.expr(evs).alias("evs"))
        .selectExpr("entity_id", f"{fold} AS arr")
    )
    # entities that completed <2 steps contribute no gaps: guard the
    # sequence() — sequence(2, size) DESCENDS when size < 2 (default
    # step -1) and element_at would then hit index 0 and raise.
    gaps = arrivals.select(
        F.posexplode(
            F.expr(
                "CASE WHEN size(arr) >= 2 THEN"
                " transform(sequence(2, size(arr)),"
                " k -> element_at(arr, k) - element_at(arr, k - 1))"
                " ELSE array() END"
            )
        ).alias("_i", "gap")
    ).select((F.col("_i") + 2).alias("step"), "gap")
    out = gaps.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.expr("percentile(gap, 0.5D)").alias("median_gap_s"),
        F.expr(
            "cast(" + ROUND6.format(
                x="cast(sum(cast(gap AS decimal(27,6))) AS double) / count(gap)"
            ) + " AS double)"
        ).alias("mean_gap_s"),
    )
    stage = F.array(*[F.lit(s) for s in steps])
    return out.select(
        "step",
        F.element_at(stage, F.col("step").cast("int")).alias("stage"),
        "n_entities",
        "median_gap_s",
        "mean_gap_s",
    ).select(*TIMING_COLS)


def funnel_step_times_sql(
    table: str,
    steps: list[str],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB mirror via the staged relational formulation (m_k carries
    each entity's step-k arrival time)."""
    gap_selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, '{steps[k - 1]}' AS stage, "
        f"m{k}.t - m{k - 1}.t AS gap "
        f"FROM m{k} JOIN m{k - 1} ON m{k}.u = m{k - 1}.u"
        for k in range(2, len(steps) + 1)
    )
    mean = ROUND6.format(
        x="CAST(SUM(CAST(gap AS DECIMAL(27,6))) AS DOUBLE) / COUNT(gap)"
    )
    return f"""
WITH {_staged_ctes(table, steps, entity_col, ts_col, type_col)},
gaps AS ({gap_selects})
SELECT step, stage, COUNT(*) AS n_entities,
  quantile_cont(gap, 0.5) AS median_gap_s,
  CAST({mean} AS DOUBLE) AS mean_gap_s
FROM gaps GROUP BY step, stage
"""
