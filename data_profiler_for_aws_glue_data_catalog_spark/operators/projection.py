"""Embedding feature engineering: random projection + int8 quantization.

Two map-side transforms a 100 TB vector pipeline runs before indexing:

* ``project_embeddings`` — reduce dimensionality by projecting onto K
  plane vectors (the Johnson-Lindenstrauss shape). Planes are the
  dataset's K smallest-id vectors (the deterministic-seed convention of
  similarity.lsh_topk / IVF centroids — swap in learned or Gaussian
  planes at scale without changing the plan). Broadcast planes as a
  literal array; every output coordinate is one dimension-order fold —
  pure map-side, zero shuffle, whole-stage codegen.
* ``quantize_embeddings`` — scale each dimension to int8-style buckets
  [0, 255] using per-dimension min/max from one fused stats pass
  (vector_dim_stats' plan) folded into plan-time literals; the
  quantization itself is again map-side. Constant dimensions quantize
  to 0.

Both emit LONG form (id, dim, value) — join-friendly, and the
correctness harness compares scalars, not array encodings.

Determinism: folds run in dimension order (DuckDB list_reduce mirror);
projections ROUND6'd; quantization uses floor(x + 0.5) over the scaled
double — identical expression text in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_ident

PROJ_COLS = ["id", "dim", "value"]
QUANT_COLS = ["id", "dim", "q"]


def _plane_rows(embs: DataFrame, k: int, vec_col: str, id_col: str):
    """The K smallest-id vectors as [[float, ...], ...] (driver-size)."""
    rows = (
        embs.select(sql_ident(id_col), sql_ident(vec_col))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def project_embeddings(
    embs: DataFrame,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, dim, value): value = dot(vector, plane_dim), map-side only."""
    planes = _plane_rows(embs, out_dim, vec_col, id_col)
    v = f"transform({sql_ident(vec_col)}, x -> cast(x AS double))"
    structs = []
    for j, plane in enumerate(planes):
        lit = ", ".join(f"{x!r}D" for x in plane)
        dot = (
            f"aggregate(zip_with({v}, array({lit}), (a, b) -> a * b), "
            f"cast(0.0 AS double), (acc, p) -> acc + p)"
        )
        structs.append(
            f"named_struct('dim', {j}, "
            f"'value', cast({ROUND6.format(x=dot)} AS double))"
        )
    return embs.selectExpr(
        f"{sql_ident(id_col)} AS id",
        f"explode(array({', '.join(structs)})) AS kv",
    ).selectExpr("id", "kv.dim AS dim", "kv.value AS value").select(*PROJ_COLS)


def project_embeddings_sql(
    table: str,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB mirror: planes = K smallest-id vectors, list_reduce fold."""
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    parts = []
    for j in range(out_dim):
        plane = (
            f"(SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) "
            f"FROM {table} ORDER BY {id_col} LIMIT 1 OFFSET {j})"
        )
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, len({v}) + 1), "
            f"i -> ({v})[i] * pl.p[i])), (x, y) -> x + y)"
        )
        parts.append(
            f"SELECT {id_col} AS id, {j} AS dim, "
            f"CAST({ROUND6.format(x=dot)} AS DOUBLE) AS value "
            f"FROM {table}, (SELECT {plane} AS p) pl"
        )
    return "\nUNION ALL\n".join(parts)


def quantize_embeddings(
    embs: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """(id, dim, q): q = floor((x - min_d) / (max_d - min_d) * levels
    + 0.5) per dimension, with per-dim bounds from one fused stats pass.
    Constant dimensions emit 0."""
    from data_profiler_for_aws_glue_data_catalog_spark.operators.vector_stats import vector_dim_stats

    stats = {
        r["dim"]: (r["min_val"], r["max_val"])
        for r in vector_dim_stats(embs, dim, vec_col).collect()
    }
    # Bounds as two literal ARRAYS + one transform lambda, not dim
    # unrolled named_struct expressions: at dim=64 the unrolled explode
    # blew Janino's 64 KB method limit and the whole stage silently fell
    # back to interpreted execution. NULL range marks a constant/empty
    # dimension (quantizes to 0). Same literals, same ((x-mn)/rng)*levels
    # arithmetic, so values are bit-identical to the unrolled form.
    mins: list[float | None] = []
    rngs: list[float | None] = []
    for j in range(dim):
        mn, mx = stats[j]
        degenerate = mn is None or mx is None or mx == mn
        mins.append(None if degenerate else mn)
        rngs.append(None if degenerate else mx - mn)

    def dlit(v: float | None) -> str:
        # non-finite bounds render as degenerate (NULL): f"{nan!r}D" would
        # emit the unparseable literal `nanD` — r8 float-specials find;
        # unreachable now that vector_dim_stats is finite-only, kept as a
        # defensive guard
        import math

        if v is None or not math.isfinite(v):
            return "cast(NULL AS double)"
        return f"{v!r}D"

    mins_lit = f"array({', '.join(dlit(v) for v in mins)})"
    rngs_lit = f"array({', '.join(dlit(v) for v in rngs)})"
    from data_profiler_for_aws_glue_data_catalog_spark.operators.vector_stats import fin_vec

    # non-finite elements quantize to NULL (finite-elements policy): the
    # vector is stripped ONCE per row (fin_vec), so a NaN/Inf element is
    # already NULL here and propagates through scaled/floor to a NULL q —
    # Spark's floor(double)->BIGINT would otherwise silently saturate
    # where the DuckDB mirror's INT cast raises
    x = "try_element_at(_fv, j)"
    scaled = f"(({x}) - element_at({mins_lit}, j)) / element_at({rngs_lit}, j) * {levels}.0D"
    q_arr = (
        f"transform(sequence(1, {dim}), j -> "
        f"CASE WHEN element_at({rngs_lit}, j) IS NULL THEN 0 "
        f"ELSE cast(floor({scaled} + 0.5D) AS int) END)"
    )
    return embs.selectExpr(
        f"{sql_ident(id_col)} AS id",
        f"{fin_vec(sql_ident(vec_col))} AS _fv",
    ).selectExpr(
        "id",
        f"posexplode({q_arr}) AS (dim, q)",
    ).select(*QUANT_COLS)


def quantize_embeddings_sql(
    table: str,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> str:
    """DuckDB mirror: per-dim bounds via scalar subqueries over the same
    data (plan-time literal on the Spark side == subquery value here)."""
    parts = []
    for j in range(dim):
        x = f"CAST({vec_col}[{j + 1}] AS DOUBLE)"
        xf = f"CASE WHEN isnan({x}) OR isinf({x}) THEN NULL ELSE {x} END"
        mn = f"(SELECT MIN({xf}) FROM {table})"
        mx = f"(SELECT MAX({xf}) FROM {table})"
        scaled = f"(({x}) - {mn}) / ({mx} - {mn}) * {levels}.0"
        q = (
            f"CASE WHEN {mx} IS NULL OR {mx} = {mn} THEN 0 "
            f"WHEN isnan({x}) OR isinf({x}) THEN NULL "
            f"ELSE CAST(floor({scaled} + 0.5) AS INT) END"
        )
        parts.append(
            f"SELECT {id_col} AS id, {j} AS dim, {q} AS q FROM {table}"
        )
    return "\nUNION ALL\n".join(parts)
