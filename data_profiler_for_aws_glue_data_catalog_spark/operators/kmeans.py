"""K-means (Lloyd) iteration over embedding columns.

similarity.py's IVF quantizer uses deterministic seed centroids and notes
"swap in k-means centroids at scale — the plan shape is unchanged". This
module provides that training step as a DataFrame computation:

  assign  : map-side nearest-centroid argmax over broadcast literal
            centroids (similarity.assign_cells — zero exchanges);
  update  : new centroid c = element-wise mean of its members, computed by
            posexploding vectors and aggregating per (cell, dimension) —
            ONE shuffle keyed (cell, dim), with map-side partial sums.

Iterating = calling ``kmeans_step`` in a driver loop, collecting the tiny
(n_cells x dim) centroid relation between rounds — the standard structure
of iterative ML on Spark (centroids are driver-size by definition; the
data-size work stays distributed and shuffle-minimal).

Determinism contract: member sums accumulate in decimal over ROUND6'd
inputs (the scan_metrics policy), so the updated centroids are
partition-order invariant and the DuckDB oracle reproduces them bit-for-bit
— which also makes multi-round trajectories reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    SUM_DECIMAL,
    round6,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import entity_normed
from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import (
    assign_cells,
    collect_centroids,
)


def centroids_from_rows(rows) -> list[tuple[int, list[float], float]]:
    """Rebuild [(cell, vector, norm)] from collected kmeans_step rows.

    The norm is a left-fold sum of squares in dimension order + sqrt —
    the exact float sequence the oracle's list_reduce mirror computes, so
    feeding these centroids back keeps the trajectory bit-reproducible.
    Zero-norm centroids are dropped (they cannot receive a cosine
    assignment), matching the oracle's ``nrm > 0`` filter.
    """
    import math

    by_cell: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = r["value"]
    cents: list[tuple[int, list[float], float]] = []
    for cell in sorted(by_cell):
        dims = by_cell[cell]
        vec = [dims[d] for d in range(max(dims) + 1)]
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        norm = math.sqrt(acc)
        if norm > 0:
            cents.append((cell, vec, norm))
    return cents


def kmeans_train(
    embs: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Full Lloyd training: ``n_iters`` rounds of assign+update from the
    deterministic smallest-id seeds; returns the FINAL round's centroid
    relation (cell, dim, value, n_members), lazily.

    The driver loop collects only the tiny (cells x dims) centroid
    relation between rounds — the standard Spark structure for iterative
    ML — while every data-size pass stays a map-side assignment plus one
    (cell, dim)-keyed shuffle. The whole trajectory is deterministic
    (decimal means, ROUND6), so a DuckDB oracle can replay all rounds
    exactly (oracle_ext.kmeans_train_sql unrolls the iterations as CTE
    chains). The trained centroids slot straight into
    ``similarity.assign_cells``/``ivf_topk`` — same plan shape as the
    seed quantizer.
    """
    if n_iters < 1:
        raise ValueError("kmeans_train: n_iters >= 1")
    cents: list[tuple[int, list[float], float]] | None = None
    for i in range(n_iters):
        step = kmeans_step(embs, n_cells, vec_col, id_col, centroids=cents)
        if i == n_iters - 1:
            return step
        cents = centroids_from_rows(step.collect())
    raise AssertionError("unreachable")


def kmeans_step(
    embs: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """One Lloyd iteration: assign to ``centroids`` (default: the
    deterministic smallest-id seeds), return the updated centroids as
    (cell, dim, value, n_members) — the long form a driver loop collects
    and feeds back, and the form an exact SQL oracle can check.

    Empty cells vanish from the output (standard Lloyd: a centroid with
    no members has no mean; callers re-seed or drop the cell).
    """
    # materialize_wide (parity with similarity._normed and
    # embedding_near_duplicates): ``e`` feeds both collect_centroids and
    # assign_cells, so without it the scan+dedup subtree recomputes per
    # consumer AND the AQE-coalesced dedup exchange can leave the
    # CPU-heavy distance stage single-task (round-8 advice)
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import materialize_wide

    e = materialize_wide(
        entity_normed(embs.select(id_col, vec_col), vec_col, id_col)
    )
    cents = centroids if centroids is not None else collect_centroids(e, n_cells)
    assigned = assign_cells(e, cents)
    by_dim = assigned.select(
        "cell", F.posexplode("_v").alias("dim", "x")
    )
    # same decimal-accumulation mirror pair as scan_metrics: Spark
    # try_cast(x AS decimal) == DuckDB CAST(x AS DECIMAL), floor-based ROUND6
    dec_sum = F.expr(f"cast(sum(try_cast(x AS {SUM_DECIMAL})) AS double)")
    return (
        by_dim.groupBy("cell", "dim")
        .agg(
            (dec_sum / F.count(F.lit(1))).alias("_mean"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cell",
            "dim",
            round6(F.col("_mean")).alias("value"),
            "n_members",
        )
    )
