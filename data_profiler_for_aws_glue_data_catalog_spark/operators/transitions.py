"""Event-sequence transition matrix (first-order Markov view).

For each entity's time-ordered event stream, count consecutive
(from_state -> to_state) pairs and the conditional probability
P(to | from) — the standard clickstream / user-journey transition
matrix.

Plan shape:
1. ONE window shuffle keyed by entity (`lag(state)` over
   ``partitionBy(entity).orderBy(ts, id)`` — the id tie-break makes the
   ordering, and therefore the matrix, deterministic under equal
   timestamps).
2. ONE `groupBy(from, to)` shuffle over |states|^2-cardinality keys
   (combine-friendly, tiny output).
3. per-from totals derive from the pair counts themselves (window sum
   over the already-small matrix), NOT a third pass over the data.

Scale notes (100 TB): the entity window is the only data-sized
shuffle; hot entities are bounded by per-entity event counts, not key
skew across entities. States are typically low-cardinality, so stages
2-3 are negligible at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

TRANSITION_COLS = [
    "from_state", "to_state", "n_transitions", "n_from_total", "probability",
]


def transition_matrix(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_state, to_state, n_transitions, n_from_total, probability)."""
    w = Window.partitionBy(entity_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    pairs = (
        events.where(
            F.col(entity_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(state_col).isNotNull()
        )
        .select(
            F.lag(F.col(state_col)).over(w).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .where(F.col("from_state").isNotNull())
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wf = Window.partitionBy("from_state")
    prob = "cast(n_transitions AS double) / cast(n_from_total AS double)"
    return (
        counts.withColumn("n_from_total", F.sum("n_transitions").over(wf))
        .selectExpr(
            "from_state",
            "to_state",
            "n_transitions",
            "n_from_total",
            f"cast({ROUND6.format(x=prob)} AS double) AS probability",
        )
        .select(*TRANSITION_COLS)
    )


def transition_matrix_sql(
    table: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror: same lag window with identical tie-break ordering."""
    return f"""
WITH ordered AS (
  SELECT
    LAG({state_col}) OVER (
      PARTITION BY {entity_col} ORDER BY {ts_col} ASC, {id_col} ASC
    ) AS from_state,
    {state_col} AS to_state
  FROM {table}
  WHERE {entity_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {state_col} IS NOT NULL
),
counts AS (
  SELECT from_state, to_state, COUNT(*) AS n_transitions
  FROM ordered WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n_transitions,
  SUM(n_transitions) OVER (PARTITION BY from_state) AS n_from_total,
  CAST({ROUND6.format(x=f"CAST(n_transitions AS DOUBLE) / CAST(SUM(n_transitions) OVER (PARTITION BY from_state) AS DOUBLE)")} AS DOUBLE) AS probability
FROM counts
"""


PATH_COLS = ["path", "n_occurrences"]


def top_paths(
    events: DataFrame,
    length: int = 3,
    k: int = 20,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common length-``length`` consecutive event-type paths
    (sliding windows over each entity's ordered stream) — the sequence
    generalization of the transition matrix.

    Same single entity-keyed window shuffle (length-1 lags resolve in
    ONE Window spec), then a groupBy over path strings and
    ``orderBy().limit(k)`` (ties by path text).
    """
    if length < 2:
        raise ValueError("top_paths: length must be >= 2")
    w = Window.partitionBy(entity_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    base = events.where(
        F.col(entity_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(state_col).isNotNull()
    )
    steps = [F.col(state_col)] + [
        F.lag(F.col(state_col), i).over(w) for i in range(1, length)
    ]
    # steps[i] is the state i positions BACK: reverse for forward order
    path = F.concat_ws(">", *reversed(steps))
    paths = base.select(path.alias("path"), steps[-1].alias("_first")).where(
        F.col("_first").isNotNull()
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(k)
        .select(*PATH_COLS)
    )


def top_paths_sql(
    table: str,
    length: int = 3,
    k: int = 20,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror (same lags, ordering and tie-break)."""
    over = (
        f"OVER (PARTITION BY {entity_col} "
        f"ORDER BY {ts_col} ASC, {id_col} ASC)"
    )
    lags = [f"LAG({state_col}, {i}) {over} AS s_{i}" for i in range(1, length)]
    fwd = [f"s_{i}" for i in range(length - 1, 0, -1)] + [state_col]
    return f"""
WITH lagged AS (
  SELECT {state_col}, {', '.join(lags)}
  FROM {table}
  WHERE {entity_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {state_col} IS NOT NULL
),
paths AS (
  SELECT concat_ws('>', {', '.join(fwd)}) AS path
  FROM lagged WHERE s_{length - 1} IS NOT NULL
)
SELECT path, COUNT(*) AS n_occurrences
FROM paths GROUP BY path
ORDER BY n_occurrences DESC, path ASC
LIMIT {k}
"""


ILLEGAL_COLS = [
    "from_state", "to_state", "n_transitions", "allowed"
]


def transition_conformance(
    events: DataFrame,
    allowed: list[tuple[str, str]],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """State-machine conformance: every observed transition annotated
    against the declared ALLOWED set — the lifecycle-integrity check
    (an order must not jump shipped->created; a user must not purchase
    before signup). Reuses the transition matrix (one lag window + one
    groupBy); the whitelist is a broadcast literal relation.

    Output: (from_state, to_state, n_transitions, allowed) for every
    observed pair — the gate reads ``WHERE NOT allowed``.
    """
    tm = transition_matrix(events, entity_col, ts_col, state_col, id_col)
    spark = events.sparkSession
    wl = spark.createDataFrame(
        [(a, b) for a, b in allowed], "from_state string, to_state string"
    ).withColumn("_ok", F.lit(True))
    return (
        tm.join(F.broadcast(wl), ["from_state", "to_state"], "left_outer")
        .select(
            "from_state",
            "to_state",
            "n_transitions",
            F.coalesce(F.col("_ok"), F.lit(False)).alias("allowed"),
        )
    )


def transition_conformance_sql(
    table: str,
    allowed: list[tuple[str, str]],
    entity_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`transition_conformance`."""
    wl = ", ".join(f"('{a}', '{b}')" for a, b in allowed)
    return f"""
WITH tm AS (
  SELECT from_state, to_state, n_transitions
  FROM ({transition_matrix_sql(table, entity_col, ts_col, state_col, id_col)})
),
wl AS (SELECT * FROM (VALUES {wl}) AS t(f, t2))
SELECT from_state, to_state, n_transitions,
  (wl.f IS NOT NULL) AS allowed
FROM tm LEFT OUTER JOIN wl
  ON tm.from_state = wl.f AND tm.to_state = wl.t2
"""
