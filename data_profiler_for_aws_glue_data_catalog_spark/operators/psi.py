"""Population Stability Index: distribution drift between snapshots.

profile_diff compares scalar metrics; PSI compares DISTRIBUTIONS — the
standard ML-monitoring score for "has this feature's distribution
shifted between the reference window and today":

    PSI = sum_i (p_i - q_i) * ln(p_i / q_i)

over equi-width buckets fixed by the REFERENCE side's min/max (the
production convention: the baseline defines the binning; new
out-of-range values clamp into the edge buckets). Zero-count buckets
are smoothed with eps so the log stays finite — the standard PSI
recipe. Rule of thumb: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25
action.

Plan shape: one tiny fused pass on the reference fixes the bounds as
plan-time literals; then ONE aggregation per side computes all bucket
counts as conditional-count streams (no shuffle beyond two single-row
exchanges — the numeric_histogram fused-count-stream strategy); the
PSI finish is driver-free arithmetic on the two 1-row frames joined by
a broadcast cross join.

Determinism: bucket assignment is integer floor arithmetic over fixed
literals; probabilities and log terms are fixed double expressions
over exact counts, ROUND6'd — the DuckDB mirror reproduces bounds via
scalar subqueries over the same reference data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_ident

EPS = 1e-6

PSI_COLS = ["column", "n_bins", "psi", "drift_class"]


def _bucket_expr(x: str, mn: float, mx: float, bins: int, spark: bool) -> str:
    """Clamped equi-width bucket index 0..bins-1 (identical text in both
    dialects modulo least/greatest names, which match)."""
    w = (mx - mn) / bins
    raw = f"CAST(floor((({x}) - {mn!r}) / {w!r}) AS INT)"
    return f"least(greatest({raw}, 0), {bins - 1})"


def psi(
    reference: DataFrame,
    current: DataFrame,
    columns: list[str],
    bins: int = 10,
) -> DataFrame:
    """(column, n_bins, psi, drift_class) per numeric column; NULL psi
    when the reference is empty/constant (no binnable distribution)."""
    if not columns:
        raise ValueError("psi: need at least one column")
    bounds_row = reference.selectExpr(
        *[
            e
            for c in columns
            for e in (
                f"min(cast({sql_ident(c)} AS double)) AS mn_{_a(c, columns)}",
                f"max(cast({sql_ident(c)} AS double)) AS mx_{_a(c, columns)}",
            )
        ]
    ).first()

    def counts(df: DataFrame, tag: str) -> DataFrame:
        exprs = []
        for c in columns:
            i = _a(c, columns)
            mn, mx = bounds_row[f"mn_{i}"], bounds_row[f"mx_{i}"]
            x = f"cast({sql_ident(c)} AS double)"
            exprs.append(f"count({x}) AS {tag}n_{i}")
            if mn is None or mx is None or mx == mn:
                continue
            b = _bucket_expr(x, mn, mx, bins, spark=True)
            for k in range(bins):
                exprs.append(
                    f"count(CASE WHEN {x} IS NOT NULL AND {b} = {k} "
                    f"THEN 1 END) AS {tag}c_{i}_{k}"
                )
        return df.selectExpr(*exprs)

    ref_counts = counts(reference, "r")
    cur_counts = counts(current, "c")
    joined = ref_counts.crossJoin(F.broadcast(cur_counts))

    # Two projections, not one: the raw bins-term PSI sum is computed
    # ONCE per column here, and the struct/inline stage below references
    # the alias.  Folding everything into the inline() Generate repeated
    # the 10-term sum 5x per column (round + null guard + 3 CASE arms)
    # on top of the 22-per-column count inputs, and the single generated
    # method blew Janino's 64 KB limit — whole-stage silently fell back
    # to interpreted.  (CollapseProject keeps the split: a non-cheap
    # alias referenced more than once is not inlined.)
    raw_exprs = []
    for c in columns:
        i = _a(c, columns)
        mn, mx = bounds_row[f"mn_{i}"], bounds_row[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            psi_sql = "CAST(NULL AS double)"
        else:
            terms = []
            for k in range(bins):
                p = f"(cast(rc_{i}_{k} AS double) / cast(rn_{i} AS double) + {EPS!r})"
                q = f"(cast(cc_{i}_{k} AS double) / cast(cn_{i} AS double) + {EPS!r})"
                terms.append(f"(({p}) - ({q})) * ln(({p}) / ({q}))")
            psi_sql = " + ".join(terms)
        raw_exprs.append(f"cast({psi_sql} AS double) AS psi_raw_{i}")
    raw = joined.selectExpr(*raw_exprs)

    structs = []
    for c in columns:
        i = _a(c, columns)
        # drift_class thresholds compare the UNROUNDED psi (oracle
        # parity); only the emitted value is ROUND6'd
        cls = (
            f"CASE WHEN psi_raw_{i} IS NULL THEN 'undefined' "
            f"WHEN psi_raw_{i} < 0.1 THEN 'stable' "
            f"WHEN psi_raw_{i} < 0.25 THEN 'moderate' "
            "ELSE 'shifted' END"
        )
        structs.append(
            f"named_struct('column', '{c}', 'n_bins', {bins}, "
            f"'psi', cast({ROUND6.format(x=f'psi_raw_{i}')} AS double), "
            f"'drift_class', {cls})"
        )
    return raw.selectExpr(
        f"inline(array({', '.join(structs)}))"
    ).select(*PSI_COLS)


def _a(c: str, columns: list[str]) -> int:
    return columns.index(c)


def psi_sql(
    reference_sql: str,
    current_sql: str,
    columns: list[str],
    bins: int = 10,
) -> str:
    """DuckDB mirror of :func:`psi`, CTE-staged like the engine plan:
    one bounds row, one fused conditional-count pass per side, then the
    PSI finish over plain column references.

    (The first mirror embedded the bucket counts as scalar subqueries
    INSIDE each per-column PSI sum and substituted that sum ~7x into the
    round/classify templates; when the r8 guarded ROUND6 tripled its
    ``{x}`` the generated SQL hit 318 KB / ~850 scalar subqueries and
    DuckDB 1.0's planner ground for minutes. Staged, it plans in
    milliseconds with identical arithmetic shape — the same fix the
    engine side already had for Janino's 64 KB method limit. r9.)"""
    bounds = []
    for c in columns:
        i = _a(c, columns)
        x = f"CAST({c} AS DOUBLE)"
        bounds += [f"MIN({x}) AS mn_{i}", f"MAX({x}) AS mx_{i}"]

    def counts(tag: str) -> str:
        exprs = []
        for c in columns:
            i = _a(c, columns)
            x = f"CAST({c} AS DOUBLE)"
            exprs.append(f"count({x}) AS {tag}n_{i}")
            raw = (
                f"CAST(floor((({x}) - mn_{i}) / "
                f"((mx_{i} - mn_{i}) / {bins}) ) AS INT)"
            )
            b = f"least(greatest({raw}, 0), {bins - 1})"
            for k in range(bins):
                exprs.append(
                    f"count(CASE WHEN {x} IS NOT NULL AND {b} = {k} "
                    f"THEN 1 END) AS {tag}c_{i}_{k}"
                )
        return ", ".join(exprs)

    raws = []
    for c in columns:
        i = _a(c, columns)
        terms = []
        for k in range(bins):
            p = f"(CAST(rc_{i}_{k} AS DOUBLE) / CAST(rn_{i} AS DOUBLE) + {EPS!r})"
            q = f"(CAST(cc_{i}_{k} AS DOUBLE) / CAST(cn_{i} AS DOUBLE) + {EPS!r})"
            terms.append(f"(({p}) - ({q})) * ln(({p}) / ({q}))")
        raws.append(
            f"CASE WHEN mx_{i} IS NULL OR mx_{i} = mn_{i} THEN NULL "
            f"ELSE {' + '.join(terms)} END AS psi_raw_{i}"
        )

    parts = []
    for c in columns:
        i = _a(c, columns)
        cls = (
            f"CASE WHEN psi_raw_{i} IS NULL THEN 'undefined' "
            f"WHEN psi_raw_{i} < 0.1 THEN 'stable' "
            f"WHEN psi_raw_{i} < 0.25 THEN 'moderate' "
            "ELSE 'shifted' END"
        )
        parts.append(
            f"SELECT '{c}' AS column, {bins} AS n_bins, "
            f"CAST({ROUND6.format(x=f'psi_raw_{i}')} AS DOUBLE) AS psi, "
            f"{cls} AS drift_class FROM raw"
        )
    body = "\nUNION ALL\n".join(parts)
    return f"""WITH ref AS ({reference_sql}), cur AS ({current_sql}),
b AS (SELECT {', '.join(bounds)} FROM ref),
rc AS (SELECT {counts('r')} FROM ref, b),
cc AS (SELECT {counts('c')} FROM cur, b),
raw AS (SELECT {', '.join(raws)} FROM rc, cc, b)
{body}"""
