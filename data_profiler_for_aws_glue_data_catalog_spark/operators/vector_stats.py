"""Embedding-column profiling: per-dimension stats + norm/quality profile.

The scan_metrics surface profiles scalar columns; training-data tables
carry ``array<float>`` embedding columns that need the same treatment:
per-DIMENSION mean/stddev/min/max (drift in a single dimension is how
encoder regressions show up) and vector-level quality (zero vectors,
wrong dimensionality, non-finite elements, norm distribution).

Plan shape
----------
``vector_dim_stats`` is the scan_metrics fusion shape applied across
dimensions: every per-dim aggregate (4 streams x D dims) rides ONE
full-scan agg job — ``element_at`` projections, map-side partials, a
single-row exchange, no data shuffle at all. Contrast the naive
``posexplode + groupBy(pos)`` formulation, which shuffles N x D rows.
For very wide vectors batch dimensions (~256 streams per pass, the
max_fused_columns_per_pass pattern).

``vector_norm_stats`` is one more fused single-row agg over per-row
expressions (fold for the norm, exists() for non-finite scan).

Determinism contract: means/stddevs accumulate exact decimals over
ROUND6'd inputs (kmeans.py / scan_metrics.py policy) so results are
partition-order invariant and the DuckDB mirrors are bit-exact; the
norm fold runs in dimension order in both engines (list_reduce mirror).
Embedding values are float32 (|x| < ~3.4e38 but realistically O(1)); the
decimal domain |x| < 1e12 is asserted by try_cast -> NULL, not guarded
with an IEEE fallback branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

# Sum accumulation: wide decimal. Square accumulation: decimal(18,6) so the
# product stays inside precision 38 at scale 12 with NO precision-loss
# rounding (scan_metrics SQ_DECIMAL policy); the DuckDB twin TRY_CASTs to
# DECIMAL(18,6) (Spark's try_cast NULL-at-overflow envelope) then widens to
# 19,6 to force the exact int128 multiply kernel (oracle.sq_operand_sql).
_DDEC = "DECIMAL(27,6)"
_SQ = "decimal(18,6)"
_DSQ = "DECIMAL(19,6)"

def fin_element(x: str) -> str:
    """Spark SQL: non-finite element -> NULL. Vector aggregates follow a
    FINITE-ELEMENTS policy (r8 float-specials axis): a NaN/±Inf element
    is treated as missing for its dimension — the decimal-exact per-dim
    accumulators cannot represent it (Spark try_cast silently NULLs,
    DuckDB CAST raises), and per-dim means/quantization over specials
    are undefined. Non-finite VECTORS are surfaced by vector_norm_stats
    (n_nonfinite)."""
    return (
        f"CASE WHEN isnan({x}) OR abs({x}) = double('Infinity') "
        f"THEN NULL ELSE {x} END"
    )


def fin_element_duck(x: str) -> str:
    """DuckDB mirror of :func:`fin_element`."""
    return f"CASE WHEN isnan({x}) OR isinf({x}) THEN NULL ELSE {x} END"


def fin_vec(vec_col: str) -> str:
    """Spark SQL: the whole vector stripped to finite-or-NULL elements in
    ONE transform pass — ``e - e = 0`` iff e is finite (NaN-NaN and
    Inf-Inf are NaN), so the per-element test is one subtraction instead
    of isnan+abs+compare replicated across every per-dim aggregate
    (measured 2.2x on the 64-dim fused stats when done per-expression)."""
    return (
        f"transform({vec_col}, e -> CASE WHEN cast(e AS double) "
        f"- cast(e AS double) = 0.0D THEN cast(e AS double) END)"
    )


DIM_COLS = ["dim", "n_present", "mean", "std", "min_val", "max_val"]


def vector_dim_stats(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """(dim, n_present, mean, std, min_val, max_val) per dimension, one
    fused scan. Rows with NULL vectors or missing trailing dims count
    into n_present only where the element exists."""
    exprs: list[str] = []
    for i in range(dim):
        # try_element_at: out-of-range -> NULL (ANSI element_at throws);
        # DuckDB's list index has the same NULL semantics. The vector is
        # finite-stripped once per row (the _fv projection below), not
        # per aggregate expression.
        x = f"try_element_at(_fv, {i + 1})"
        xr = ROUND6.format(x=x)
        xd = f"try_cast({xr} AS {SUM_DECIMAL})"
        xq = f"try_cast({xr} AS {_SQ})"
        exprs += [
            f"count({x}) AS n_{i}",
            f"cast(sum({xd}) AS double) AS sx_{i}",
            f"cast(sum({xq} * {xq}) AS double) AS sx2_{i}",
            f"min({x}) AS mn_{i}",
            f"max({x}) AS mx_{i}",
        ]
    row = df.selectExpr(f"{fin_vec(vec_col)} AS _fv").selectExpr(*exprs)
    structs = []
    for i in range(dim):
        n = f"cast(n_{i} AS double)"
        var = f"try_divide(sx2_{i} - try_divide(sx_{i} * sx_{i}, {n}), {n})"
        std = f"CASE WHEN {n} > 0 THEN sqrt(greatest({var}, 0.0D)) END"
        structs.append(
            "named_struct("
            f"'dim', {i}, "
            f"'n_present', n_{i}, "
            f"'mean', cast({ROUND6.format(x=f'try_divide(sx_{i}, {n})')} AS double), "
            f"'std', cast({ROUND6.format(x=std)} AS double), "
            f"'min_val', mn_{i}, 'max_val', mx_{i})"
        )
    return row.selectExpr(f"inline(array({', '.join(structs)}))").select(*DIM_COLS)


def vector_dim_stats_sql(table: str, dim: int, vec_col: str = "embedding") -> str:
    """DuckDB mirror (1-indexed list access, same decimal accumulation)."""
    parts = []
    for i in range(dim):
        x = fin_element_duck(f"CAST({vec_col}[{i + 1}] AS DOUBLE)")
        xr = ROUND6.format(x=x)
        # TRY_CAST mirrors Spark's try_cast NULL-at-overflow envelope; the
        # widen to 19,6 keeps DuckDB's multiply on the int128 kernel
        xd = f"TRY_CAST({xr} AS {_DDEC})"
        xq = f"CAST(TRY_CAST({xr} AS DECIMAL(18,6)) AS {_DSQ})"
        n = "CAST(n AS DOUBLE)"
        var = f"(sx2 - (sx * sx) / {n}) / {n}"
        std = f"CASE WHEN {n} > 0 THEN sqrt(greatest({var}, 0.0)) END"
        parts.append(f"""
SELECT {i} AS dim, n AS n_present,
  CAST({ROUND6.format(x=f'sx / {n}')} AS DOUBLE) AS mean,
  CAST({ROUND6.format(x=std)} AS DOUBLE) AS std,
  mn AS min_val, mx AS max_val
FROM (
  SELECT count({x}) AS n,
    CAST(sum({xd}) AS DOUBLE) AS sx,
    CAST(sum({xq} * {xq}) AS DOUBLE) AS sx2,
    min({x}) AS mn, max({x}) AS mx
  FROM {table}
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


NORM_COLS = [
    "n_vectors", "n_null", "n_wrong_dim", "n_nonfinite", "n_zero",
    "mean_norm", "min_norm", "max_norm",
]


def vector_norm_stats(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """One-row vector quality profile: null / wrong-dimension / non-finite
    / zero-vector counts and the L2-norm distribution over clean vectors.

    The norm is a dimension-order left fold (aggregate), mirrored by
    DuckDB list_reduce, so mean_norm is cross-engine exact under the
    ROUND6+decimal policy.
    """
    v = vec_col
    bad = (
        f"exists({v}, e -> isnan(e) OR abs(e) = double('Infinity'))"
    )
    norm = (
        f"sqrt(aggregate({v}, cast(0.0 AS double), "
        f"(acc, e) -> acc + cast(e AS double) * cast(e AS double)))"
    )
    clean = (
        f"({v} IS NOT NULL AND size({v}) = {dim} AND NOT {bad})"
    )
    nr = ROUND6.format(x=norm)
    nd = f"try_cast({nr} AS {SUM_DECIMAL})"
    row = df.selectExpr(
        "count(1) AS n_rows",
        f"sum(CASE WHEN {v} IS NULL THEN 1 ELSE 0 END) AS n_null",
        f"sum(CASE WHEN {v} IS NOT NULL AND size({v}) != {dim} THEN 1 ELSE 0 END)"
        " AS n_wrong_dim",
        f"sum(CASE WHEN {v} IS NOT NULL AND {bad} THEN 1 ELSE 0 END) AS n_nonfinite",
        f"sum(CASE WHEN {clean} AND {norm} = 0.0 THEN 1 ELSE 0 END) AS n_zero",
        f"count(CASE WHEN {clean} THEN 1 END) AS n_clean",
        f"cast(sum(CASE WHEN {clean} THEN {nd} END) AS double) AS s_norm",
        f"min(CASE WHEN {clean} THEN {nr} END) AS min_norm",
        f"max(CASE WHEN {clean} THEN {nr} END) AS max_norm",
    )
    return row.selectExpr(
        "n_rows AS n_vectors",
        "n_null",
        "n_wrong_dim",
        "n_nonfinite",
        "n_zero",
        f"cast({ROUND6.format(x='try_divide(s_norm, cast(n_clean AS double))')} "
        "AS double) AS mean_norm",
        "cast(min_norm AS double) AS min_norm",
        "cast(max_norm AS double) AS max_norm",
    )


def vector_norm_stats_sql(table: str, dim: int, vec_col: str = "embedding") -> str:
    """DuckDB mirror: list_reduce fold in dimension order, same casts."""
    v = vec_col
    bad = (
        f"len(list_filter({v}, e -> isnan(e) OR isinf(e))) > 0"
    )
    norm = (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({v}, e -> CAST(e AS DOUBLE))), "
        f"(acc, e) -> acc + e * e))"
    )
    # list_reduce has no seed; prepend 0.0 and note 0 + e*e fold — but the
    # prepended element passes through the lambda as acc only. The first
    # step computes acc=0.0? list_reduce folds left with first element as
    # init: init=0.0, then acc + e*e per real element — matches Spark's
    # aggregate(v, 0.0, ...). (0.0 + first^2 identical either way.)
    clean = f"({v} IS NOT NULL AND len({v}) = {dim} AND NOT ({bad}))"
    nr = ROUND6.format(x=norm)
    nd = f"CAST({nr} AS {_DDEC})"
    return f"""
SELECT n_rows AS n_vectors, n_null, n_wrong_dim, n_nonfinite, n_zero,
  CAST({ROUND6.format(x='s_norm / CAST(n_clean AS DOUBLE)')} AS DOUBLE) AS mean_norm,
  CAST(min_norm AS DOUBLE) AS min_norm,
  CAST(max_norm AS DOUBLE) AS max_norm
FROM (
  SELECT count(*) AS n_rows,
    sum(CASE WHEN {v} IS NULL THEN 1 ELSE 0 END) AS n_null,
    sum(CASE WHEN {v} IS NOT NULL AND len({v}) != {dim} THEN 1 ELSE 0 END) AS n_wrong_dim,
    sum(CASE WHEN {v} IS NOT NULL AND ({bad}) THEN 1 ELSE 0 END) AS n_nonfinite,
    sum(CASE WHEN {clean} AND {norm} = 0.0 THEN 1 ELSE 0 END) AS n_zero,
    count(CASE WHEN {clean} THEN 1 END) AS n_clean,
    CAST(sum(CASE WHEN {clean} THEN {nd} END) AS DOUBLE) AS s_norm,
    min(CASE WHEN {clean} THEN {nr} END) AS min_norm,
    max(CASE WHEN {clean} THEN {nr} END) AS max_norm
  FROM {table}
)"""


DRIFT_COLS = [
    "n_old", "n_new", "cosine_of_means", "mean_shift_l2",
    "mean_norm_old", "mean_norm_new",
]


def _mean_vec_row(df: DataFrame, dim: int, vec_col: str, tag: str):
    """1-row frame of per-dim ROUND6'd decimal means + count, fused scan."""
    exprs = [f"count(_fv) AS n_{tag}"]
    for i in range(dim):
        x = f"try_element_at(_fv, {i + 1})"
        xd = f"try_cast({ROUND6.format(x=x)} AS {SUM_DECIMAL})"
        exprs.append(
            f"cast({ROUND6.format(x=f'try_divide(cast(sum({xd}) AS double), count({x}))')} AS double)"
            f" AS m{tag}_{i}"
        )
    return df.selectExpr(f"{fin_vec(vec_col)} AS _fv").selectExpr(*exprs)


def embedding_drift(
    old: DataFrame, new: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Centroid drift between two embedding snapshots (single row):
    cosine between the mean vectors, L2 shift, and both mean norms.

    Plan shape: one fused mean-vector scan per side (zero shuffles), a
    1-row x 1-row broadcast cross join, and a fixed 64-term arithmetic
    expression — deterministic left-associated addition, ROUND6'd, so
    both engines agree bit-for-bit.

    Scale notes (100 TB): two scans total; everything downstream is a
    single row regardless of corpus size.
    """
    a = _mean_vec_row(old, dim, vec_col, "old")
    b = _mean_vec_row(new, dim, vec_col, "new")
    row = a.crossJoin(F.broadcast(b))
    dot = " + ".join(f"mold_{i} * mnew_{i}" for i in range(dim))
    na = " + ".join(f"mold_{i} * mold_{i}" for i in range(dim))
    nb = " + ".join(f"mnew_{i} * mnew_{i}" for i in range(dim))
    l2 = " + ".join(
        f"(mold_{i} - mnew_{i}) * (mold_{i} - mnew_{i})" for i in range(dim)
    )
    cos = f"try_divide({dot}, sqrt({na}) * sqrt({nb}))"
    return row.selectExpr(
        "n_old",
        "n_new",
        f"cast({ROUND6.format(x=cos)} AS double) AS cosine_of_means",
        f"cast({ROUND6.format(x=f'sqrt({l2})')} AS double) AS mean_shift_l2",
        f"cast({ROUND6.format(x=f'sqrt({na})')} AS double) AS mean_norm_old",
        f"cast({ROUND6.format(x=f'sqrt({nb})')} AS double) AS mean_norm_new",
    ).select(*DRIFT_COLS)


def embedding_drift_sql(
    old_sql: str, new_sql: str, dim: int, vec_col: str = "embedding"
) -> str:
    """DuckDB mirror (same per-dim decimal means and term order)."""

    def side(sql: str, tag: str) -> str:
        cols = [f"COUNT({vec_col}) AS n_{tag}"]
        for i in range(dim):
            x = fin_element_duck(f"CAST({vec_col}[{i + 1}] AS DOUBLE)")
            xd = f"CAST({ROUND6.format(x=x)} AS {_DDEC})"
            cols.append(
                f"CAST({ROUND6.format(x=f'CAST(SUM({xd}) AS DOUBLE) / COUNT({x})')} AS DOUBLE)"
                f" AS m{tag}_{i}"
            )
        return f"SELECT {', '.join(cols)} FROM ({sql})"

    dot = " + ".join(f"mold_{i} * mnew_{i}" for i in range(dim))
    na = " + ".join(f"mold_{i} * mold_{i}" for i in range(dim))
    nb = " + ".join(f"mnew_{i} * mnew_{i}" for i in range(dim))
    l2 = " + ".join(
        f"(mold_{i} - mnew_{i}) * (mold_{i} - mnew_{i})" for i in range(dim)
    )
    cos = f"({dot}) / NULLIF(SQRT({na}) * SQRT({nb}), 0.0)"
    return f"""
WITH a AS ({side(old_sql, 'old')}), b AS ({side(new_sql, 'new')})
SELECT n_old, n_new,
  CAST({ROUND6.format(x=cos)} AS DOUBLE) AS cosine_of_means,
  CAST({ROUND6.format(x=f'SQRT({l2})')} AS DOUBLE) AS mean_shift_l2,
  CAST({ROUND6.format(x=f'SQRT({na})')} AS DOUBLE) AS mean_norm_old,
  CAST({ROUND6.format(x=f'SQRT({nb})')} AS DOUBLE) AS mean_norm_new
FROM a CROSS JOIN b
"""
