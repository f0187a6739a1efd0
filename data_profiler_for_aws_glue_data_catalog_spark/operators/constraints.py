"""Constraint verification + constraint suggestion (data-quality checks).

The reference delegates ALL of its compute to Deequ (build.sbt:6), whose
core product is constraint verification (``VerificationSuite``) and
constraint suggestion — the profiler app only uses the analyzer surface.
This module re-expresses that companion capability Spark-first so a
reference user has the full Deequ-style workflow available natively:

  verify(df, suite)        one fused aggregation job evaluates every
                           constraint metric in a single scan; each
                           constraint row gets Success/Failure status
  suggest_constraints(m)   derive a constraint suite from a profile's
                           metrics relation (the ConstraintSuggestion
                           analog): NOT NULL / UNIQUE / non-negative /
                           length-bound rules

Execution shape (100 TB notes)
------------------------------
- ``verify`` compiles the whole suite into ONE ``selectExpr`` aggregate
  over the table — partial aggregation map-side, a single-row exchange,
  then a constant-sized inline() unpivot. Adding constraints adds
  expressions, not passes. Exact-distinct constraints (``is_unique``)
  plan an Expand the same way the profiler's Distinctness pass does; one
  Expand pass for all such constraints still beats one job per check.
- ``suggest_constraints`` runs over the metrics relation — O(tables x
  columns x metrics) rows, NOT the data — so it is driver-cheap at any
  data scale; one small shuffle to pivot per-column metrics.

Determinism: metric values are emitted through the engine's fixed
floor-based 6-dp rounding (functions.rounding.ROUND6) and the
sum/mean constraints are the profiler's own guarded exact-decimal
Sum/Mean (operators.scan_metrics), mirrored in DuckDB by the profile
oracle's (oracle._sum_dec / oracle._mean_sql), so verification output
hash-matches the DuckDB oracle (verification_sql).

Each Constraint carries BOTH the Spark SQL and the DuckDB SQL text of
its metric aggregate; constructors keep the two in lockstep so a suite
defined once generates engine plan and oracle from the same object.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark import oracle as O
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    aggregate_moments,
    mean_sql,
    sum_sql,
)


@dataclass(frozen=True)
class Constraint:
    """One check: a metric aggregate compared against a threshold.

    ``spark_expr`` / ``duck_expr`` are the SQL texts of the same aggregate
    in each dialect; ``op`` is one of >=, <=, >, <, == applied as
    ``metric op threshold``. A NULL metric (empty/all-null input) fails.
    """

    name: str
    instance: str
    spark_expr: str
    duck_expr: str
    op: str
    threshold: float


def is_complete(c: str) -> Constraint:
    """Completeness(c) == 1.0 (Deequ Check.isComplete)."""
    return Constraint(
        f"is_complete({c})", c,
        f"try_divide(count({c}), count(1))",
        f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)",
        ">=", 1.0,
    )


def has_completeness(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_completeness({c})", c,
        f"try_divide(count({c}), count(1))",
        f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)",
        op, x,
    )


def is_unique(c: str) -> Constraint:
    """Distinctness(c) == 1.0: every non-null value occurs exactly once.

    Deequ's isUnique asserts Uniqueness == 1.0 (a frequency-table metric);
    at threshold 1.0 the two are equivalent (no value repeats <=>
    distinct == non-null count), and distinctness stays one-pass-able
    as a COUNT(DISTINCT) in the fused aggregate.
    """
    return Constraint(
        f"is_unique({c})", c,
        f"try_divide(cast(count(DISTINCT {c}) AS double), count({c}))",
        f"CAST(COUNT(DISTINCT {c}) AS DOUBLE) / NULLIF(COUNT({c}), 0)",
        ">=", 1.0,
    )


def is_non_negative(c: str) -> Constraint:
    """Compliance 'coalesce(c,0) >= 0' == 1.0 (Deequ isNonNegative,
    null-as-zero parity)."""
    pred_s = f"coalesce({c}, 0) >= 0"
    pred_d = f"COALESCE({c}, 0) >= 0"
    return Constraint(
        f"is_non_negative({c})", c,
        f"try_divide(sum(CASE WHEN {pred_s} THEN 1 ELSE 0 END), count(1))",
        f"CAST(SUM(CASE WHEN {pred_d} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)",
        ">=", 1.0,
    )


def has_size(op: str, x: float) -> Constraint:
    return Constraint(
        "has_size(*)", "*", "cast(count(1) AS double)",
        "CAST(COUNT(*) AS DOUBLE)", op, x,
    )


def has_min(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_min({c})", c, f"cast(min({c}) AS double)",
        f"CAST(MIN({c}) AS DOUBLE)", op, x,
    )


def has_max(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_max({c})", c, f"cast(max({c}) AS double)",
        f"CAST(MAX({c}) AS DOUBLE)", op, x,
    )


def has_sum(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_sum({c})", c, sum_sql(aggregate_moments(c)), O._sum_dec(c), op, x
    )


def has_mean(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_mean({c})", c, mean_sql(aggregate_moments(c)), O._mean_sql(c),
        op, x,
    )


def has_max_length(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_max_length({c})", c,
        f"cast(max(length({c})) AS double)",
        f"CAST(MAX(LENGTH({c})) AS DOUBLE)", op, x,
    )


def has_min_length(c: str, op: str, x: float) -> Constraint:
    return Constraint(
        f"has_min_length({c})", c,
        f"cast(min(length({c})) AS double)",
        f"CAST(MIN(LENGTH({c})) AS DOUBLE)", op, x,
    )


def has_pattern(c: str, regex: str, op: str = ">=", x: float = 1.0) -> Constraint:
    """Fraction of NON-NULL values matching ``regex`` (partial-match, like
    RLIKE/regexp_matches — anchor with ^$ for full-string). Keep patterns
    inside the Java-regex/RE2 common subset."""
    return Constraint(
        f"has_pattern({c})", c,
        f"try_divide(sum(CASE WHEN {c} RLIKE '{regex}' THEN 1 ELSE 0 END), "
        f"count({c}))",
        f"CAST(SUM(CASE WHEN regexp_matches({c}, '{regex}') THEN 1 ELSE 0 END) "
        f"AS DOUBLE) / NULLIF(COUNT({c}), 0)",
        op, x,
    )


def satisfies(
    pred_spark: str, name: str, op: str = ">=", x: float = 1.0,
    pred_duck: str | None = None,
) -> Constraint:
    """Compliance: fraction of ALL rows where the predicate holds (NULL
    predicate rows count against it) — Deequ Check.satisfies."""
    pd = pred_duck if pred_duck is not None else pred_spark
    return Constraint(
        f"satisfies({name})", "*",
        f"try_divide(sum(CASE WHEN {pred_spark} THEN 1 ELSE 0 END), count(1))",
        f"CAST(SUM(CASE WHEN {pd} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)",
        op, x,
    )


_OPS = {">=", "<=", ">", "<", "=="}

VERIFY_COLS = ["constraint_name", "instance", "value", "threshold", "status"]


def _status_sql(metric: str, op: str, threshold: float) -> str:
    cmp = "=" if op == "==" else op
    return (
        f"CASE WHEN ({metric}) {cmp} {threshold!r} "
        f"THEN 'Success' ELSE 'Failure' END"
    )


def verify(df: DataFrame, suite: list[Constraint]) -> DataFrame:
    """Evaluate a constraint suite in ONE fused aggregation job.

    Output: (constraint_name, instance, value, threshold, status) — value
    is the 6-dp-rounded metric, status 'Success'/'Failure' (NULL metric =>
    Failure, matching Deequ's failed-metric semantics).
    """
    if not suite:
        raise ValueError("verify: empty suite")
    for con in suite:
        if con.op not in _OPS:
            raise ValueError(f"verify: bad op {con.op!r} in {con.name}")
    aliased = [f"({c.spark_expr}) AS m{i}" for i, c in enumerate(suite)]
    row = df.selectExpr(*aliased)
    structs = []
    for i, con in enumerate(suite):
        value6 = ROUND6.format(x=f"cast(m{i} AS double)")
        structs.append(
            "named_struct("
            f"'constraint_name', '{con.name}', "
            f"'instance', '{con.instance}', "
            f"'value', cast({value6} AS double), "
            f"'threshold', cast({con.threshold!r} AS double), "
            f"'status', {_status_sql(f'm{i}', con.op, con.threshold)})"
        )
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(
        *VERIFY_COLS
    )


def verification_sql(table: str, suite: list[Constraint]) -> str:
    """DuckDB oracle for ``verify`` — same metrics, rounding, statuses."""
    m = ", ".join(f"({c.duck_expr}) AS m{i}" for i, c in enumerate(suite))
    rows = []
    for i, con in enumerate(suite):
        value6 = ROUND6.format(x=f"CAST(m{i} AS DOUBLE)")
        cmp = "=" if con.op == "==" else con.op
        rows.append(
            f"SELECT '{con.name}' AS constraint_name, "
            f"'{con.instance}' AS instance, "
            f"CAST({value6} AS DOUBLE) AS value, "
            f"CAST({con.threshold!r} AS DOUBLE) AS threshold, "
            f"CASE WHEN m{i} {cmp} {con.threshold!r} "
            f"THEN 'Success' ELSE 'Failure' END AS status FROM m"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"WITH m AS (SELECT {m} FROM {table})\n{body}"


# --- Constraint suggestion (ConstraintSuggestion analog) -----------------

SUGGEST_COLS = ["instance", "rule", "threshold"]

# (rule name, guarding metric condition, emitted threshold) — all over the
# pivoted per-column profile metrics c=Completeness d=Distinctness
# mn=Minimum ml=MaxLength.
_RULES_SQL = [
    ("is_complete", "c = 1.0", "1.0D"),
    ("has_completeness_geq", "c IS NOT NULL AND c < 1.0", "c"),
    ("is_unique", "d = 1.0", "1.0D"),
    ("is_non_negative", "mn >= 0.0", "1.0D"),
    ("has_max_length_leq", "ml IS NOT NULL", "ml"),
]


def suggest_constraints(metrics: DataFrame) -> DataFrame:
    """Derive a constraint suite from a profile's metrics relation.

    Input: the long metrics relation of profile_table (entity, instance,
    name, value, type). Output: (instance, rule, threshold) — one row per
    suggested constraint:

      is_complete              Completeness == 1.0 observed
      has_completeness_geq     else keep the observed completeness floor
      is_unique                Distinctness == 1.0 observed
      is_non_negative          Minimum >= 0 observed
      has_max_length_leq       text column: observed max length bound

    Runs on metrics rows (tiny at any data scale): one pivot shuffle.
    """
    pivoted = (
        metrics.where("entity = 'Column'")
        .groupBy("instance")
        .agg(
            *[
                F.max(F.when(F.col("name") == metric, F.col("value"))).alias(a)
                for metric, a in [
                    ("Completeness", "c"),
                    ("Distinctness", "d"),
                    ("Minimum", "mn"),
                    ("MaxLength", "ml"),
                ]
            ]
        )
    )
    structs = ", ".join(
        f"CASE WHEN {cond} THEN named_struct("
        f"'instance', instance, 'rule', '{rule}', "
        f"'threshold', cast({thr} AS double)) END"
        for rule, cond, thr in _RULES_SQL
    )
    return pivoted.selectExpr(
        f"inline(filter(array({structs}), s -> s IS NOT NULL))"
    ).select(*SUGGEST_COLS)


def default_orders_suite() -> list[Constraint]:
    """The registered demonstration suite over the ``orders`` table: a mix
    of structural (size/completeness/uniqueness), domain (non-negative,
    bounds, deterministic mean/sum) and pattern/compliance checks, with
    two deliberately failing constraints (max<=1000; o_custkey repeats per
    customer) so both statuses appear in the output."""
    return [
        has_size(">", 0.0),
        is_complete("o_orderkey"),
        is_unique("o_orderkey"),
        is_unique("o_custkey"),
        is_non_negative("o_totalprice"),
        has_min("o_totalprice", ">", 0.0),
        has_max("o_totalprice", "<=", 1000.0),
        has_mean("o_totalprice", ">", 0.0),
        has_sum("o_totalprice", ">", 0.0),
        has_completeness("o_orderstatus", ">=", 1.0),
        has_pattern("o_orderstatus", "^[OFP]$"),
        has_pattern("o_orderpriority", "^[1-5]-"),
        has_max_length("o_orderpriority", "<=", 15.0),
        has_min_length("o_orderstatus", ">=", 1.0),
        satisfies("o_totalprice >= 0", "non_negative_price"),
    ]


def suggestion_sql(profile_sql: str) -> str:
    """DuckDB oracle for ``suggest_constraints`` over a profile subquery."""
    rows = []
    for rule, cond, thr in _RULES_SQL:
        thr_d = thr[:-1] if thr.endswith("D") else thr
        rows.append(
            f"SELECT instance, '{rule}' AS rule, "
            f"CAST({thr_d} AS DOUBLE) AS threshold FROM p WHERE {cond}"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH p AS (
  SELECT instance,
    MAX(CASE WHEN name = 'Completeness' THEN value END) AS c,
    MAX(CASE WHEN name = 'Distinctness' THEN value END) AS d,
    MAX(CASE WHEN name = 'Minimum' THEN value END) AS mn,
    MAX(CASE WHEN name = 'MaxLength' THEN value END) AS ml
  FROM ({profile_sql}) WHERE entity = 'Column' GROUP BY instance)
{body}
"""
