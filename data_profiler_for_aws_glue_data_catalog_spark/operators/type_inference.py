"""Deequ ``DataType`` analyzer: infer value types of string columns.

Catalog tables routinely store everything as strings; Deequ's DataType
analyzer (public API; the reference app never wires it) classifies each
value as Boolean / Integral / Fractional / String (nulls -> Unknown)
and reports the distribution plus the inferred column type. The
inference rule matches Deequ's lattice: all-boolean -> Boolean,
all-integral -> Integral, numeric mix -> Fractional, anything else ->
String, no values -> Unknown.

Value classes (anchored, shared Java/RE2 regex dialect):

  Boolean    (?i)^(true|false)$
  Integral   ^-?[0-9]+$
  Fractional ^-?[0-9]+\\.[0-9]+$

One fused scan: 3 conditional-count streams + 1 count per column, every
column in the same ``df.agg`` — the scan_metrics fusion shape; no
shuffle beyond the single-row exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import duck_str, sql_ident, sql_str

BOOL_RE = "(?i)^(true|false)$"
INT_RE = "^-?[0-9]+$"
FRAC_RE = "^-?[0-9]+\\.[0-9]+$"

TYPE_COLS = [
    "instance", "inferred_type", "n_rows", "n_nonnull",
    "n_boolean", "n_integral", "n_fractional", "n_string",
]


def _verdict(nn: str, nb: str, ni: str, nf: str) -> str:
    return (
        f"CASE WHEN {nn} = 0 THEN 'Unknown' "
        f"WHEN {nb} = {nn} THEN 'Boolean' "
        f"WHEN {ni} = {nn} THEN 'Integral' "
        f"WHEN {ni} + {nf} = {nn} THEN 'Fractional' "
        "ELSE 'String' END"
    )


def infer_types(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per column: value-class counts + the inferred type, one fused pass."""
    if not columns:
        raise ValueError("infer_types: need at least one column")
    exprs = ["count(1) AS n_rows"]
    for i, c in enumerate(columns):
        q = f"cast({sql_ident(c)} AS string)"
        exprs += [
            f"count({q}) AS nn_{i}",
            f"count(CASE WHEN {q} RLIKE {sql_str(BOOL_RE)} THEN 1 END) AS nb_{i}",
            f"count(CASE WHEN {q} RLIKE {sql_str(INT_RE)} THEN 1 END) AS ni_{i}",
            f"count(CASE WHEN {q} RLIKE {sql_str(FRAC_RE)} THEN 1 END) AS nf_{i}",
        ]
    row = df.selectExpr(*exprs)
    structs = []
    for i, c in enumerate(columns):
        nn, nb, ni, nf = f"nn_{i}", f"nb_{i}", f"ni_{i}", f"nf_{i}"
        structs.append(
            "named_struct("
            f"'instance', {sql_str(c)}, "
            f"'inferred_type', {_verdict(nn, nb, ni, nf)}, "
            "'n_rows', n_rows, "
            f"'n_nonnull', {nn}, 'n_boolean', {nb}, "
            f"'n_integral', {ni}, 'n_fractional', {nf}, "
            f"'n_string', {nn} - {nb} - {ni} - {nf})"
        )
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(*TYPE_COLS)


def infer_types_sql(table: str, columns: list[str]) -> str:
    """DuckDB mirror (regexp_matches, same anchored patterns)."""
    parts = []
    for c in columns:
        q = f"CAST({c} AS VARCHAR)"
        parts.append(f"""
SELECT {duck_str(c)} AS instance,
  {_verdict('n_nonnull', 'n_boolean', 'n_integral', 'n_fractional')} AS inferred_type,
  n_rows, n_nonnull, n_boolean, n_integral, n_fractional,
  n_nonnull - n_boolean - n_integral - n_fractional AS n_string
FROM (
  SELECT count(*) AS n_rows, count({q}) AS n_nonnull,
    count(CASE WHEN regexp_matches({q}, {duck_str(BOOL_RE)}) THEN 1 END) AS n_boolean,
    count(CASE WHEN regexp_matches({q}, {duck_str(INT_RE)}) THEN 1 END) AS n_integral,
    count(CASE WHEN regexp_matches({q}, {duck_str(FRAC_RE)}) THEN 1 END) AS n_fractional
  FROM {table}
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
