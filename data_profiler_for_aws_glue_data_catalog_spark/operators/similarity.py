"""Approximate-nearest-neighbor search over embedding columns.

Two strategies (SURVEY.md §7 Phase 5):

  cosine_topk   exact brute-force top-k — the baseline & verify kernel
  ivf_topk      IVF: coarse-quantize vectors into cells, probe the query's
                nearest ``n_probe`` cells only — the 100 TB scale path

Both are pure DataFrame ops (dot products via F.zip_with/F.aggregate —
JVM-side, no UDF) with exact DuckDB oracles. Determinism contract: cosines
are ROUND6'd before ranking and ties break on neighbor id, so top-k sets
are engine-reproducible.

Scale notes (100 TB)
--------------------
- Queries are broadcast (a handful of vectors); scoring is map-side only.
- Top-k avoids the single-reducer-per-query window trap with a two-stage
  select: partial top-k per (query, salt-of-neighbor) group, then final
  top-k over b*k survivors. Identical result to a global top-k (the global
  top-k is contained in the union of partial top-ks), but the heavy first
  stage fans out over ``salt_buckets * |queries|`` reducers instead of
  |queries|.
- IVF cell assignment is fully MAP-SIDE: the ``n_cells`` centroids are
  collected to the driver once (one tiny TakeOrdered job — centroids are
  small by definition; k-means training output would be collected the same
  way) and embedded as a literal array-of-structs; per row, the argmax
  cosine is a single array_max over a transform — no crossJoin, no window,
  NO exchange before assignment. The probe-cell list per query is the same
  literal array sorted and sliced, also map-side.
- Centroids here are deterministic seed vectors (the ``n_cells`` smallest
  ids) so the oracle reproduces assignment exactly; swap in k-means
  centroids at scale — the plan shape (collect centroids -> literal-array
  assign -> cell-pruned search) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import (
    _pair_cosine,
    dot,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
    materialize_wide,
)


def _normed(embs: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Entity-keyed normed vector frame, eagerly materialized: every
    consumer (query-side filter, centroid collect, scoring scan — often
    launched CONCURRENTLY by AQE) re-executes the cast+norm+dedup subtree
    otherwise.  One row per id (dedup.entity_normed): duplicate physical
    rows must not repeat inside a top-k list or fill the centroid seed
    set.  MEMORY_AND_DISK — at 100 TB this spills like a shuffle.

    FINITE VECTORS ONLY (r9, found by the specials x skew fuzz product):
    a vector with a NaN/±Inf element has no defined cosine, and when one
    lands in the centroid seed set it poisons every assignment — worse,
    Spark's NaN sorts greatest under BOTH sort directions (-NaN is NaN),
    so probe selection (ascending on the NEGATED cosine) and assignment
    (descending argmax) disagree about the poisoned cell, silently
    emptying top-k lists.  `_norm < Inf` excludes them identically in
    both engines (NaN norm compares greatest in Spark and DuckDB alike);
    kmeans/vector-stats keep their separate documented NaN-member
    policies — this exclusion is the similarity family's only."""
    from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import entity_normed

    # no ensure_parallelism here: the dedup's own exchange redistributes
    # anyway (a pre-repartition would just double-shuffle — measured 2x
    # the materialization cost), and materialize_wide restores downstream
    # width when AQE coalesces the small agg output
    return materialize_wide(
        entity_normed(embs.select(id_col, vec_col), vec_col, id_col).where(
            F.col("_norm") < F.lit(float("inf"))
        )
    )


def collect_centroids(e: DataFrame, n_cells: int) -> list[tuple[int, list[float], float]]:
    """[(cell_id, vector, norm)] — the ``n_cells`` smallest-id vectors of a
    normed frame (columns id, _v, _norm), collected with one TakeOrdered job.

    The collected doubles round-trip exactly through literals, so plans
    built on them match the oracle bit-for-bit.
    """
    rows = e.orderBy("id").limit(n_cells).collect()
    return [(r["id"], list(r["_v"]), r["_norm"]) for r in rows]


def _centroid_array(cents: list[tuple[int, list[float], float]]) -> Column:
    """Literal array<struct<cell, cv, cn>> of collected centroids.

    An empty centroid list (empty input frame) must still carry the struct
    type: a bare ``F.array()`` is array<void> and any lambda field access
    over it fails analysis — so the empty case is an explicitly-typed
    empty array (transform/array_max/explode over it then degrade to
    empty/NULL, which is the correct no-op)."""
    if not cents:
        return F.expr(
            "cast(array() AS array<struct<cell:bigint,cv:array<double>,cn:double>>)"
        )
    return F.array(
        *[
            F.struct(
                F.lit(cid).cast("bigint").alias("cell"),
                F.array(*[F.lit(x) for x in vec]).alias("cv"),
                F.lit(n).cast("double").alias("cn"),
            )
            for cid, vec, n in cents
        ]
    )


def assign_cells(
    e: DataFrame, cents: list[tuple[int, list[float], float]]
) -> DataFrame:
    """(id, _v, _norm, cell): nearest-centroid assignment, purely map-side.

    argmax cosine with tie-break on smallest cell id, computed as
    array_max over struct(cosine, -cell) — struct ordering is
    lexicographic, so max picks highest cosine, then (via the negation)
    the LOWEST cell id among ties. No exchange anywhere in this plan.
    """
    carr = _centroid_array(cents)
    scored = F.transform(
        carr,
        lambda c: F.struct(
            _pair_cosine(F.col("_v"), F.col("_norm"), c["cv"], c["cn"]).alias("cos"),
            (-c["cell"]).alias("negcell"),
        ),
    )
    best = F.array_max(scored)
    return e.withColumn("cell", -best["negcell"])


def probe_cells(
    q: DataFrame, cents: list[tuple[int, list[float], float]], n_probe: int
) -> DataFrame:
    """Explode each query row into its ``n_probe`` nearest cells, map-side.

    Sort key struct(-cosine, cell) ascending == cosine DESC, cell ASC —
    the same deterministic order the oracle's row_number uses.
    """
    carr = _centroid_array(cents)
    scored = F.transform(
        carr,
        lambda c: F.struct(
            (-_pair_cosine(F.col("_qv"), F.col("_qn"), c["cv"], c["cn"])).alias("negcos"),
            c["cell"].alias("cell"),
        ),
    )
    probes = F.slice(F.array_sort(scored), 1, n_probe)
    return q.select(
        "query_id",
        "_qv",
        "_qn",
        F.explode(F.transform(probes, lambda p: p["cell"])).alias("cell"),
    )


def _ranked_topk(scored: DataFrame, k: int, salt_buckets: int = 32) -> DataFrame:
    """Two-stage deterministic top-k per query_id over (query_id,
    neighbor_id, cosine). Rank order: cosine DESC, neighbor_id ASC."""
    order = [F.desc("cosine"), F.asc("neighbor_id")]
    salted = Window.partitionBy(
        "query_id", F.pmod(F.hash("neighbor_id"), F.lit(salt_buckets))
    ).orderBy(*order)
    final = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("_pr", F.row_number().over(salted))
        .where(F.col("_pr") <= k)
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    embs: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Output: (query_id, neighbor_id, cosine, rank 1..k).
    """
    e = _normed(embs, vec_col, id_col)
    q = e.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _pair_cosine(F.col("_qv"), F.col("_qn"), F.col("_v"), F.col("_norm")).alias(
                "cosine"
            ),
        )
    )
    return _ranked_topk(scored, k)


def _band_tokens(planes: list[tuple[int, list[float], float]], n_bands: int) -> Column:
    """array<int> of banded sign-signature tokens for column ``_v``.

    Random-hyperplane LSH: bit j of the signature is sign(dot(v, h_j));
    bits are grouped into ``n_bands`` tokens (band index baked into the
    token so equal tokens mean same band AND same bits). Plane vectors
    are collected literals — the whole signature is map-side, no
    exchange, ~n_planes fused dot products per row.
    """
    n_planes = len(planes)
    bpb = n_planes // n_bands
    toks = []
    for b in range(n_bands):
        val: Column | None = None
        for j in range(bpb):
            vec = planes[b * bpb + j][1]
            lit = F.array(*[F.lit(x) for x in vec])
            bit = F.when(dot(F.col("_v"), lit) >= 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            val = bit if val is None else val + bit
        toks.append((val + F.lit(b * (1 << bpb))).cast("int"))
    return F.array(*toks)


def lsh_topk(
    embs: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH approximate top-k (the bucketed alternative
    to IVF): score only vectors sharing at least one signature band with
    the query. Output shape = cosine_topk's; recall depends on
    plane/band geometry — the standard signed-projection LSH tradeoff.

    Plane vectors are the ``n_planes`` smallest-id vectors (deterministic
    seeding, same policy as IVF centroids) so the oracle reproduces the
    signatures exactly; swap in Gaussian planes at scale — plan shape
    unchanged. The data-side pass is fully map-side (literal planes,
    broadcast queries, arrays_overlap prefilter before the exact cosine);
    the only exchanges are the two-stage top-k's.
    """
    e = _normed(embs, vec_col, id_col)
    planes = collect_centroids(e, n_planes)
    d = e.withColumn("_bands", _band_tokens(planes, n_bands))
    q = d.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
        F.col("_bands").alias("_qbands"),
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .where(
            (F.col("id") != F.col("query_id"))
            & F.arrays_overlap("_bands", "_qbands")
        )
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _pair_cosine(F.col("_qv"), F.col("_qn"), F.col("_v"), F.col("_norm")).alias(
                "cosine"
            ),
        )
    )
    return _ranked_topk(scored, k)


def ivf_topk(
    embs: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: search only the ``n_probe`` cells whose
    centroids are nearest each query. Output shape = cosine_topk's.

    One normed frame feeds assignment, queries and scoring; centroids are
    collected once and reused for both cell assignment and probe selection.
    The data-side scan touches ~n_probe/n_cells of the vectors (cell
    pruning via the broadcast probe join); recall depends on quantizer
    quality, which is the standard IVF tradeoff.
    """
    e = _normed(embs, vec_col, id_col)
    cents = collect_centroids(e, n_cells)
    assigned = assign_cells(e, cents)
    q = e.where(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    probes = probe_cells(q, cents, n_probe)
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _pair_cosine(F.col("_qv"), F.col("_qn"), F.col("_v"), F.col("_norm")).alias(
                "cosine"
            ),
        )
    )
    return _ranked_topk(scored, k)


def knn_join(
    embs: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Self-KNN join: approximate top-k cosine neighbors for EVERY vector
    (batch k-NN graph construction — dedup clustering, diversity
    sampling, embedding-quality audits all start here).

    Same IVF machinery as :func:`ivf_topk`, but the probe side is the
    whole relation, so the candidate join is a plain shuffle equi-join on
    the cell key — both sides data-sized, hash-partitioned, map-side
    combinable; nothing is broadcast. Candidate pairs per vector ~
    (n_probe/n_cells) x |vectors| — the quantizer bounds the blowup, vs
    the O(n^2) a brute-force self-join would plan.

    Scale notes (100 TB): hot cells (an uneven quantizer) skew the cell
    join — AQE's skew-join split handles moderate imbalance; retrain
    centroids (kmeans.py) or subdivide hot cells (IVF-HNSW style) when a
    cell exceeds executor memory. Output: (query_id, neighbor_id,
    cosine, rank 1..k) for every query_id.
    """
    e = _normed(embs, vec_col, id_col)
    cents = collect_centroids(e, n_cells)
    assigned = assign_cells(e, cents)
    q = e.select(
        F.col("id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    probes = probe_cells(q, cents, n_probe)
    scored = (
        assigned.join(probes, on="cell")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _pair_cosine(F.col("_qv"), F.col("_qn"), F.col("_v"), F.col("_norm")).alias(
                "cosine"
            ),
        )
    )
    return _ranked_topk(scored, k)


RECALL_COLS = ["query_id", "k", "n_overlap", "recall"]


def truncation_recall(
    embs: DataFrame,
    query_ids: list[int],
    dim: int = 8,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of PREFIX-TRUNCATED vectors against full-dimension
    ground truth — the Matryoshka-style dimension-reduction audit: how
    many of each query's true top-k survive when the index stores only
    the first ``dim`` components (storage/latency vs recall knob).

    Two exact top-k runs (full + truncated are both brute-force over the
    same broadcast queries) reconciled with a semi-join per query.
    """
    full = cosine_topk(embs, query_ids, k, vec_col, id_col).select(
        "query_id", "neighbor_id"
    )
    trunc = cosine_topk(
        embs.withColumn("_trunc", F.slice(F.col(vec_col), 1, dim)),
        query_ids,
        k,
        "_trunc",
        id_col,
    ).select("query_id", "neighbor_id")
    hit = full.join(trunc, ["query_id", "neighbor_id"], "leftsemi")
    per_q = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    ov = hit.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        per_q.join(ov, "query_id", "left_outer")
        .selectExpr(
            "query_id",
            "k",
            "coalesce(n_overlap, 0) AS n_overlap",
            f"cast({ROUND6.format(x='CAST(coalesce(n_overlap, 0) AS DOUBLE) / k')} AS double)"
            " AS recall",
        )
    )


INERTIA_COLS = ["cell", "n_vectors", "mean_cos_to_centroid", "min_cos"]


def ivf_inertia(
    embs: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantizer quality report: per IVF cell, member count and the
    mean/min cosine of members to their centroid — the "inertia" view
    that tells you when to retrain centroids or split hot cells (low
    mean cosine = a cell too coarse for reliable ANN recall).

    One assignment pass (map-side argmax over the literal centroids) +
    one groupBy(cell); cosines reuse the engine's ROUND6'd kernel, the
    mean accumulates as exact decimals.
    """
    e = _normed(embs, vec_col, id_col)
    cents = collect_centroids(e, n_cells)
    assigned = assign_cells(e, cents)
    carr = _centroid_array(cents)
    pick = F.filter(carr, lambda c: c["cell"] == F.col("cell"))[0]
    scored = assigned.select(
        "cell",
        _pair_cosine(F.col("_v"), F.col("_norm"), pick["cv"], pick["cn"]).alias("cos"),
    )
    return (
        scored.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr(
                "cast(" + ROUND6.format(
                    x="cast(sum(try_cast(cos AS decimal(27,6))) AS double)"
                    " / count(cos)"
                ) + " AS double)"
            ).alias("mean_cos_to_centroid"),
            F.min("cos").alias("min_cos"),
        )
        .select(*INERTIA_COLS)
    )
