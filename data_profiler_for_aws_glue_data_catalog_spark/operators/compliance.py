"""Compliance + PatternMatch analyzers — ONE fused aggregation pass.

Deequ (the library the reference delegates all compute to,
build.sbt:6) ships two predicate-fraction analyzers the reference app
never wires but its users rely on:

* ``Compliance(name, predicate)`` — the fraction of ALL rows satisfying
  a boolean SQL predicate. Rows where the predicate evaluates NULL
  count as non-compliant (Deequ's ``SUM(CASE WHEN p THEN 1 ELSE 0
  END) / COUNT(*)`` shape).
* ``PatternMatch(column, regex)`` — the fraction of a column's NON-NULL
  values containing a regex match, over non-null rows (completeness of
  the pattern among present values).

Both are plain conditional aggregates, so every rule across every
column fuses into a single ``df.agg(...)`` scan — map-side partials,
one single-row exchange, whole-stage codegen — the scan_metrics fusion
shape. Output is the standard long metrics relation:

    Compliance   -> entity='Dataset', instance=<rule name>,  name='Compliance'
    PatternMatch -> entity='Column',  instance=<column>,     name='PatternMatch.<rule name>'

Regex dialect note: Spark uses Java regex, the DuckDB oracle RE2. The
builders accept any pattern, but hash-checked parity requires staying in
the shared subset (character classes, anchors, quantifiers, literals —
no lookbehind, no possessive quantifiers). The bundled query rules use
only that subset.

Scale notes (100 TB): rule count adds aggregate buffers, not passes —
hundreds of rules ride one scan. Regex evaluation is per-row JVM work
inside codegen; anchor patterns and avoid catastrophic backtracking.
At very high rule counts batch rules by ~200 per pass (the
max_fused_columns_per_pass pattern).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
    duck_str,
    metric_struct_sql,
    sql_ident,
    sql_str,
)


@dataclass(frozen=True)
class ComplianceRule:
    """Fraction of all rows where ``predicate_sql`` holds (NULL => fail)."""

    name: str
    predicate_sql: str  # boolean expression, shared Spark/DuckDB dialect


@dataclass(frozen=True)
class PatternRule:
    """Fraction of non-null ``column`` values containing a regex match."""

    name: str
    column: str
    pattern: str  # shared Java/RE2 subset


def compliance_metrics(
    df: DataFrame,
    rules: list[ComplianceRule] = (),
    patterns: list[PatternRule] = (),
) -> DataFrame:
    """All rules in one fused scan, emitted as the long metrics relation."""
    if not rules and not patterns:
        raise ValueError("compliance_metrics: no rules given")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exprs: list[str] = []
    structs: list[str] = []
    for i, r in enumerate(rules):
        a = f"c{i}"
        exprs.append(
            f"try_divide(sum(CASE WHEN ({r.predicate_sql}) THEN 1 ELSE 0 END), "
            f"count(1)) AS {a}"
        )
        structs.append(
            metric_struct_sql("Dataset", r.name, "Compliance", a, None)
        )
    for i, p in enumerate(patterns):
        a = f"p{i}"
        q = sql_ident(p.column)
        exprs.append(
            f"try_divide("
            f"sum(CASE WHEN {q} IS NOT NULL AND {q} RLIKE {sql_str(p.pattern)} "
            f"THEN 1 ELSE 0 END), count({q})) AS {a}"
        )
        structs.append(
            metric_struct_sql(
                "Column",
                p.column,
                f"PatternMatch.{p.name}",
                a,
                types.get(p.column),
            )
        )
    row = df.selectExpr(*exprs)
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(
        *METRIC_COLS
    )


def compliance_sql(
    table: str,
    rules: list[ComplianceRule] = (),
    patterns: list[PatternRule] = (),
    column_types: dict[str, str] | None = None,
) -> str:
    """DuckDB mirror: same fractions via regexp_matches / CASE sums."""
    parts: list[str] = []
    for r in rules:
        parts.append(
            f"SELECT 'Dataset' AS entity, {duck_str(r.name)} AS instance, "
            f"'Compliance' AS name, "
            f"CAST(SUM(CASE WHEN ({r.predicate_sql}) THEN 1 ELSE 0 END) AS DOUBLE)"
            f" / COUNT(*) AS value, CAST(NULL AS VARCHAR) AS type FROM {table}"
        )
    for p in patterns:
        t = (column_types or {}).get(p.column)
        t_sql = duck_str(t) if t is not None else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT 'Column' AS entity, {duck_str(p.column)} AS instance, "
            f"{duck_str('PatternMatch.' + p.name)} AS name, "
            f"CAST(SUM(CASE WHEN {p.column} IS NOT NULL AND "
            f"regexp_matches({p.column}, {duck_str(p.pattern)}) "
            f"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT({p.column}) AS value, "
            f"{t_sql} AS type FROM {table}"
        )
    return "\nUNION ALL\n".join(parts)


def default_orders_rules() -> tuple[list[ComplianceRule], list[PatternRule]]:
    """The registered correctness suite over the orders table."""
    rules = [
        ComplianceRule("non_negative_total", "o_totalprice >= 0"),
        ComplianceRule(
            "valid_status", "o_orderstatus IN ('O', 'F', 'P')"
        ),
        ComplianceRule(
            "key_positive", "o_orderkey > 0 AND o_custkey > 0"
        ),
        ComplianceRule(
            "big_spender", "o_totalprice > 100000"
        ),
    ]
    patterns = [
        PatternRule("priority_format", "o_orderpriority", "^[1-5]-[A-Z]+$"),
        PatternRule("priority_urgent", "o_orderpriority", "URGENT"),
        PatternRule("status_single_upper", "o_orderstatus", "^[A-Z]$"),
    ]
    return rules, patterns


def windowed_compliance_sql(
    table: str,
    ts_col: str,
    rules: list[ComplianceRule] = (),
    patterns: list[PatternRule] = (),
    column_types: dict[str, str] | None = None,
) -> str:
    """DuckDB mirror of streaming.windowed_compliance with 1-day tumbling
    windows (Spark's epoch-aligned day window == day truncation), bounds
    formatted as strings."""
    w = (
        f"(SELECT *, date_trunc('day', {ts_col}) AS ws FROM {table} "
        f"WHERE {ts_col} IS NOT NULL)"
    )
    fmt_ws = "strftime(ws, '%Y-%m-%d %H:%M:%S')"
    fmt_we = "strftime(ws + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S')"
    parts: list[str] = []
    for r in rules:
        parts.append(
            f"SELECT {fmt_ws} AS window_start, {fmt_we} AS window_end, "
            f"'Dataset' AS entity, {duck_str(r.name)} AS instance, "
            f"'Compliance' AS name, "
            f"CAST(SUM(CASE WHEN ({r.predicate_sql}) THEN 1 ELSE 0 END) AS DOUBLE)"
            f" / COUNT(*) AS value, CAST(NULL AS VARCHAR) AS type "
            f"FROM {w} GROUP BY ws"
        )
    for p in patterns:
        t = (column_types or {}).get(p.column)
        t_sql = duck_str(t) if t is not None else "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT {fmt_ws} AS window_start, {fmt_we} AS window_end, "
            f"'Column' AS entity, {duck_str(p.column)} AS instance, "
            f"{duck_str('PatternMatch.' + p.name)} AS name, "
            f"CAST(SUM(CASE WHEN {p.column} IS NOT NULL AND "
            f"regexp_matches({p.column}, {duck_str(p.pattern)}) "
            f"THEN 1 ELSE 0 END) AS DOUBLE) / COUNT({p.column}) AS value, "
            f"{t_sql} AS type FROM {w} GROUP BY ws"
        )
    return "\nUNION ALL\n".join(parts)


def default_events_rules() -> tuple[list[ComplianceRule], list[PatternRule]]:
    """The registered windowed-compliance suite over the events stream."""
    rules = [
        ComplianceRule("value_positive", "value > 0"),
        ComplianceRule(
            "known_type",
            "event_type IN ('click', 'view', 'error', 'purchase', 'signup')",
        ),
        ComplianceRule("conversion", "event_type = 'purchase'"),
    ]
    patterns = [
        PatternRule("props_object", "props", "^\\{.*\\}$"),
        PatternRule("props_has_digit", "props", "[0-9]"),
    ]
    return rules, patterns


def violation_samples(
    df: DataFrame,
    rules: list[ComplianceRule],
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Example violating rows per rule: the k LOWEST-id rows failing each
    predicate (NULL predicate = violation, compliance semantics) — the
    triage companion to the fraction metrics.

    One scan: every rule's verdict evaluates per row in a single
    projection; failing (rule, id) pairs explode and a per-rule bounded
    rank keeps k examples. The rank window shuffles only VIOLATING
    pairs — for near-clean tables that is ~nothing; for a rule that
    fails wholesale the shuffle is rule-partitioned and AQE-coalesced
    (alternative at the extreme: per-rule orderBy().limit(k) probes,
    k-bounded but one scan per rule).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not rules:
        raise ValueError("violation_samples: no rules given")
    structs = ", ".join(
        f"named_struct('rule', {sql_str(r.name)}, "
        f"'fail', NOT coalesce(({r.predicate_sql}), false))"
        for r in rules
    )
    pairs = (
        df.selectExpr(
            f"{sql_ident(id_col)} AS id",
            f"inline(array({structs}))",
        )
        .where("fail")
        .select("rule", "id")
    )
    w = Window.partitionBy("rule").orderBy(F.asc("id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("rule", "id")
    )


def violation_samples_sql(
    table: str,
    rules: list[ComplianceRule],
    id_col: str,
    k: int = 5,
) -> str:
    """DuckDB mirror: per-rule ordered LIMIT probes."""
    parts = [
        f"SELECT {duck_str(r.name)} AS rule, {id_col} AS id FROM {table} "
        f"WHERE NOT COALESCE(({r.predicate_sql}), FALSE) "
        f"ORDER BY {id_col} LIMIT {k}"
        for r in rules
    ]
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
