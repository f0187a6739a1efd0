"""Pairwise Pearson correlation matrix — ONE fused aggregation pass.

Deequ ships a two-column Correlation analyzer (public API; the reference
app never wires it). This operator computes the full upper-triangle
correlation matrix of a table's numeric columns in a single scan: for
every pair the six moment aggregates (pairwise-complete n, sum x, sum y,
sum xy, sum x^2, sum y^2) are emitted as conditional aggregate
expressions into one ``df.agg`` — O(pairs) expressions, O(1) data
passes, map-side partials + a single-row exchange, exactly the
scan_metrics fusion shape.

Pairwise-complete semantics: a row contributes to (a, b) only when BOTH
are non-null (matches SQL ``corr`` and pandas pairwise deletion).

Determinism contract: moments accumulate as exact decimals over values
cast to decimal(18,6); outside the |v| < 1e12 domain a column's pairs
fall back to IEEE double sums (documented tradeoff, scan_metrics
policy). Unlike scan_metrics, the branch is chosen at PLAN TIME from a
cheap max(abs) pre-pass rather than per-row CASE aggregates: embedding
the guard aggregate inside every branch measured ~100x slower (25 s vs
0.2 s for 10 pairs over 600k rows) because the duplicated guard defeats
aggregate dedup/codegen, while the pre-pass is a ~0.2 s single-row job.
The guard is per COLUMN (max |v| over all its non-null rows); the
DuckDB mirror (``correlation_sql``) makes the same decision via scalar
subqueries over the same data, so both engines take the same branch.

The finishing expression

    corr = (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2))

is a fixed double shape, 6-dp floor-rounded, mirrored term-by-term
(decimal(19,6) on the DuckDB side forces the int128 multiply kernel;
same values).

Scale notes (100 TB): column count is the knob — P pairs cost ~6P
aggregate buffers per task. ~30 columns (~435 pairs) stays comfortable;
beyond that, batch the pair list across several passes (the
max_fused_columns_per_pass pattern) — still O(batches) scans, never
O(pairs) jobs. The pre-pass is one more fused scan; at 100 TB fold it
into an existing profile run (its max(abs) is derivable from the
profile's Minimum/Maximum metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

_GUARD = 1e12
_GUARD_SQL = "1e12"

CORR_COLS = ["col_a", "col_b", "n_pairs", "corr"]


def _pairs(columns: list[str]) -> list[tuple[str, str]]:
    return [
        (columns[i], columns[j])
        for i in range(len(columns))
        for j in range(i + 1, len(columns))
    ]


def _moment_exprs(a: str, b: str, k: int, decimal: bool, spark: bool) -> list[str]:
    """The six aliased moment aggregates for pair k in one dialect."""
    both = f"({a} IS NOT NULL AND {b} IS NOT NULL)"
    if decimal:
        if spark:
            xa, xb = f"try_cast({a} AS decimal(18,6))", f"try_cast({b} AS decimal(18,6))"
        else:
            # TRY_CAST matches Spark's NULL-at-overflow envelope; the widen
            # to 19,6 forces DuckDB's int128 multiply kernel (oracle.py
            # sq_operand_sql convention)
            xa = f"CAST(TRY_CAST({a} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
            xb = f"CAST(TRY_CAST({b} AS DECIMAL(18,6)) AS DECIMAL(19,6))"
        wrap = lambda s: f"cast({s} AS double)" if spark else f"CAST({s} AS DOUBLE)"
    else:
        cast = "cast" if spark else "CAST"
        xa, xb = f"{cast}({a} AS double)", f"{cast}({b} AS double)"
        wrap = lambda s: s
    return [
        f"sum(CASE WHEN {both} THEN 1 ELSE 0 END) AS p{k}_n",
        f"{wrap(f'sum(CASE WHEN {both} THEN {xa} END)')} AS p{k}_sx",
        f"{wrap(f'sum(CASE WHEN {both} THEN {xb} END)')} AS p{k}_sy",
        f"{wrap(f'sum(CASE WHEN {both} THEN {xa} * {xb} END)')} AS p{k}_sxy",
        f"{wrap(f'sum(CASE WHEN {both} THEN {xa} * {xa} END)')} AS p{k}_sxx",
        f"{wrap(f'sum(CASE WHEN {both} THEN {xb} * {xb} END)')} AS p{k}_syy",
    ]


def _finish(p: str) -> tuple[str, str]:
    """(n_pairs_sql, corr_sql) over the aliased moments of pair prefix p —
    identical text in both dialects."""
    n = f"cast({p}_n AS double)"
    cov = f"({n} * {p}_sxy - {p}_sx * {p}_sy)"
    vx = f"({n} * {p}_sxx - {p}_sx * {p}_sx)"
    vy = f"({n} * {p}_syy - {p}_sy * {p}_sy)"
    den = f"(sqrt(greatest({vx}, 0.0)) * sqrt(greatest({vy}, 0.0)))"
    corr = f"({cov} / nullif({den}, 0.0))"
    return n, corr


def _col_sum_exprs(c: str, i: int, decimal: bool) -> list[str]:
    """Shared per-column sums (Spark dialect): sx and sxx, no predicate."""
    tag = "d" if decimal else "f"
    if decimal:
        x = f"try_cast({c} AS decimal(18,6))"
        return [
            f"cast(sum({x}) AS double) AS c{i}{tag}_sx",
            f"cast(sum({x} * {x}) AS double) AS c{i}{tag}_sxx",
        ]
    x = f"cast({c} AS double)"
    return [
        f"sum({x}) AS c{i}{tag}_sx",
        f"sum({x} * {x}) AS c{i}{tag}_sxx",
    ]


def _pair_prod_expr(a: str, b: str, k: int, decimal: bool) -> str:
    """Shared-moment fast path: just the cross-product sum for pair k."""
    if decimal:
        xa = f"try_cast({a} AS decimal(18,6))"
        xb = f"try_cast({b} AS decimal(18,6))"
        return f"cast(sum({xa} * {xb}) AS double) AS p{k}_sxy"
    return f"sum(cast({a} AS double) * cast({b} AS double)) AS p{k}_sxy"


def correlation_matrix(df: DataFrame, columns: list[str]) -> DataFrame:
    """Upper-triangle Pearson correlations: (col_a, col_b, n_pairs, corr);
    corr is NULL for degenerate pairs (constant column / n = 0).

    A single-row pre-pass (count, and per column max(abs) + non-null
    count) fixes the plan: per-column accumulation branch (decimal vs
    IEEE) and, when both columns of a pair are NULL-FREE, the shared-
    moment fast path — the pair's sx/sy/sxx/syy collapse to per-COLUMN
    unconditional sums shared across all its pairs and n becomes a
    plan-time literal, identical VALUES to the pairwise-conditional
    definition (the oracle keeps the conditional form). That cuts the
    aggregate streams from 6P to P + 2C and drops every per-row CASE:
    exact-decimal streams are BigDecimal-backed (~1 us/row each), so
    stream count IS the runtime (measured 30 s -> ~8 s for 10 pairs over
    600k rows; columns with nulls keep the conditional 6-sum path).
    """
    pairs = _pairs(columns)
    if not pairs:
        raise ValueError("correlation_matrix: need at least 2 columns")
    idx = {c: i for i, c in enumerate(columns)}
    stats = df.selectExpr(
        "count(1) AS n",
        *[
            e
            for i, c in enumerate(columns)
            for e in (f"max(abs({c})) AS mx_{i}", f"count({c}) AS cnt_{i}")
        ],
    ).first()
    total = stats["n"]
    safe = {
        c: stats[f"mx_{i}"] is not None and float(stats[f"mx_{i}"]) < _GUARD
        for i, c in enumerate(columns)
    }
    nullfree = {c: stats[f"cnt_{i}"] == total for i, c in enumerate(columns)}

    exprs: list[str] = []
    emitted: set[str] = set()
    plan: list[tuple[str, str, str]] = []  # (n_sql, prefix kind, pair alias)
    for k, (a, b) in enumerate(pairs):
        decimal = safe[a] and safe[b]
        if nullfree[a] and nullfree[b]:
            tag = "d" if decimal else "f"
            for c in (a, b):
                key = f"c{idx[c]}{tag}"
                if key not in emitted:
                    emitted.add(key)
                    exprs += _col_sum_exprs(c, idx[c], decimal)
            exprs.append(_pair_prod_expr(a, b, k, decimal))
            plan.append(("shared", tag, f"p{k}"))
        else:
            exprs += _moment_exprs(a, b, k, decimal=decimal, spark=True)
            plan.append(("cond", "", f"p{k}"))
    row = df.selectExpr(*exprs)

    structs = []
    for k, (a, b) in enumerate(pairs):
        kind, tag, p = plan[k]
        if kind == "shared":
            n = f"cast({total}L AS double)"
            sx, sy = f"c{idx[a]}{tag}_sx", f"c{idx[b]}{tag}_sx"
            sxx, syy = f"c{idx[a]}{tag}_sxx", f"c{idx[b]}{tag}_sxx"
            cov = f"({n} * {p}_sxy - {sx} * {sy})"
            vx = f"({n} * {sxx} - {sx} * {sx})"
            vy = f"({n} * {syy} - {sy} * {sy})"
            den = f"(sqrt(greatest({vx}, 0.0)) * sqrt(greatest({vy}, 0.0)))"
            corr = f"({cov} / nullif({den}, 0.0))"
            n_out = f"cast({total}L AS bigint)"
        else:
            n_d, corr = _finish(p)
            n_out = f"cast({n_d} AS bigint)"
        structs.append(
            "named_struct("
            f"'col_a', '{a}', 'col_b', '{b}', "
            f"'n_pairs', {n_out}, "
            f"'corr', cast({ROUND6.format(x=corr)} AS double))"
        )
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(*CORR_COLS)


def correlation_sql(table: str, columns: list[str]) -> str:
    """DuckDB mirror: same moments per pair, with the SAME branch decision
    expressed as scalar-subquery guards over the same data."""
    pairs = _pairs(columns)
    guard = {
        c: f"(SELECT MAX(ABS({c})) FROM {table}) IS NOT NULL "
        f"AND (SELECT MAX(ABS({c})) FROM {table}) < {_GUARD_SQL}"
        for c in columns
    }
    rows = []
    for k, (a, b) in enumerate(pairs):
        dec = ",\n    ".join(_moment_exprs(a, b, k, decimal=True, spark=False))
        dbl = ",\n    ".join(_moment_exprs(a, b, k, decimal=False, spark=False))
        n, corr = _finish(f"p{k}")
        rows.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b,
  CAST({n} AS BIGINT) AS n_pairs,
  CAST({ROUND6.format(x=corr)} AS DOUBLE) AS corr
FROM (
  SELECT * FROM (SELECT {dec} FROM {table}) WHERE ({guard[a]}) AND ({guard[b]})
  UNION ALL
  SELECT * FROM (SELECT {dbl} FROM {table}) WHERE NOT (({guard[a]}) AND ({guard[b]}))
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({r})" for r in rows)
