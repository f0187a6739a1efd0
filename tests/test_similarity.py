from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.operators import similarity as S
from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import _pair_cosine


def _vecs(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id bigint, embedding array<float>",
    )


def test_cosine_topk_known_ranks(spark):
    vs = _vecs(
        spark,
        [
            [1, 0],        # 0: the query
            [1, 0.01],     # 1: nearest
            [1, 1],        # 2: cos ~ 0.707
            [0, 1],        # 3: orthogonal
            [-1, 0],       # 4: opposite
        ],
    )
    rows = S.cosine_topk(vs, [0], k=3).collect()
    assert [(r["rank"], r["neighbor_id"]) for r in rows] == [(1, 1), (2, 2), (3, 3)]
    by_n = {r["neighbor_id"]: r["cosine"] for r in rows}
    assert abs(by_n[2] - math.sqrt(0.5)) < 1e-6
    assert by_n[3] == 0.0


def test_topk_two_stage_equals_global_window(spark, embeddings):
    got = S.cosine_topk(embeddings, [0, 1, 2], k=5)
    # naive single-window global top-k over the same scored relation
    e = S._normed(embeddings, "embedding", "vec_id")
    q = e.where(F.col("id").isin([0, 1, 2])).select(
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    naive = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_assign_cells_no_exchange(spark, embeddings):
    # assignment itself adds NO exchange: on a naturally-partitioned normed
    # frame (no ensure_parallelism repartition, no cache) the whole
    # assign plan is scan -> project
    from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import with_norm

    e = with_norm(embeddings, "embedding").select(
        F.col("vec_id").alias("id"), "_v", "_norm"
    )
    cents = S.collect_centroids(e, 8)
    plan = (
        S.assign_cells(e, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_assign_cells_is_argmax(spark):
    vs = _vecs(spark, [[1, 0], [0, 1], [0.9, 0.1], [0.1, 0.9]])
    e = S._normed(vs, "embedding", "vec_id")
    cents = S.collect_centroids(e, 2)  # centroids = vectors 0 and 1
    cells = {r["id"]: r["cell"] for r in S.assign_cells(e, cents).collect()}
    assert cells[2] == 0 and cells[3] == 1
    # centroids assign to themselves
    assert cells[0] == 0 and cells[1] == 1


def test_probe_cells_nearest(spark):
    vs = _vecs(spark, [[1, 0], [0, 1], [1, 1]])
    e = S._normed(vs, "embedding", "vec_id")
    cents = S.collect_centroids(e, 2)
    q = e.where(F.col("id") == 2).select(
        F.col("id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    probed = S.probe_cells(q, cents, n_probe=1).collect()
    # [1,1] ties on cosine with both centroids -> deterministic tie-break on
    # smaller cell id
    assert len(probed) == 1 and probed[0]["cell"] == 0


def test_ivf_topk_cosines_are_true(spark, embeddings):
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.cosine_topk(embeddings, [0, 1], k=50).collect()
    }
    ivf = S.ivf_topk(embeddings, [0, 1], k=10, n_cells=8, n_probe=4).collect()
    # every IVF hit carries its true cosine (same ROUND6'd score)
    hit = 0
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["cosine"] == exact[key]
            hit += 1
    assert hit > 0


def test_ivf_topk_no_nested_loop_join(spark, embeddings):
    plan = (
        S.ivf_topk(embeddings, [0, 1], k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_topk_subset_of_exact_scores(spark, embeddings):
    """LSH candidates are a subset of the brute-force ranking: every
    returned (query, neighbor, cosine) must appear in the exact scored
    relation with the same cosine; ranks are consistent (ascending from 1,
    cosine non-increasing)."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.cosine_topk(embeddings, [0, 1], k=10**6).collect()
    }
    rows = S.lsh_topk(embeddings, [0, 1], k=5).collect()
    assert rows, "no LSH candidates at all"
    by_q: dict[int, list] = {}
    for r in rows:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(
            rs[i]["cosine"] >= rs[i + 1]["cosine"] for i in range(len(rs) - 1)
        )


def test_lsh_identical_vectors_always_collide(spark):
    """Identical vectors share every band -> the duplicate is always a
    candidate and ranks first with cosine 1.0."""
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    vecs.append(list(vecs[20]))  # id 40 duplicates id 20
    vs = _vecs(spark, vecs)
    rows = S.lsh_topk(vs, [20], k=3, n_planes=16, n_bands=4).collect()
    assert rows[0]["neighbor_id"] == 40 and rows[0]["cosine"] == 1.0


def test_knn_join_covers_every_vector(embeddings):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import knn_join
    from tests.test_plans import plan_str

    out = knn_join(embeddings, k=3, n_cells=8, n_probe=2)
    p = plan_str(out)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    rows = out.collect()
    n = embeddings.count()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == n  # every vector got neighbors
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert all(r["neighbor_id"] != q for r in rs)


def test_truncation_recall_full_dim_is_perfect(embeddings):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import truncation_recall

    dim = len(embeddings.select("embedding").first()[0])
    rows = truncation_recall(embeddings, [0, 1, 2], dim=dim, k=5).collect()
    assert len(rows) == 3
    assert all(r["recall"] == 1.0 for r in rows)  # no truncation -> identical


def test_truncation_recall_bounded(embeddings):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import truncation_recall

    rows = truncation_recall(embeddings, [0, 1], dim=4, k=5).collect()
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["n_overlap"] <= r["k"] for r in rows)


def test_ivf_inertia_bounds(embeddings):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import ivf_inertia

    rows = ivf_inertia(embeddings, n_cells=8).collect()
    assert sum(r["n_vectors"] for r in rows) == embeddings.count()
    for r in rows:
        assert -1.0 <= r["min_cos"] <= r["mean_cos_to_centroid"] <= 1.0


def test_nonfinite_vectors_excluded_from_similarity(spark):
    """r9 finite-vectors policy (specials x skew fuzz find): a NaN/Inf
    vector has no defined cosine, and as a CENTROID it poisons IVF
    assignment asymmetrically (Spark NaN sorts greatest under both sort
    directions, so argmax-descending and probe-ascending disagree).
    _normed drops them: they appear as neither query, neighbor, nor
    centroid, and top-k lists stay full-sized for the finite queries."""
    nan = float("nan")
    vs = _vecs(
        spark,
        [
            [1, 0],        # 0: query
            [nan, 1],      # 1: NaN vector — would be a centroid (low id)
            [1, 0.01],     # 2: nearest finite
            [1, 1],        # 3
            [0, 1],        # 4
            [float("inf"), 0],  # 5: Inf vector
            [1, 0.5],      # 6
        ],
    )
    for fn in (
        lambda: S.cosine_topk(vs, [0, 1], k=3),
        lambda: S.ivf_topk(vs, [0, 1], k=3, n_cells=4, n_probe=4),
        lambda: S.lsh_topk(vs, [0, 1], k=3, n_planes=4, n_bands=2),
    ):
        rows = fn().collect()
        ids = {r["neighbor_id"] for r in rows} | {r["query_id"] for r in rows}
        assert 1 not in ids and 5 not in ids, rows
        got_q0 = [r for r in rows if r["query_id"] == 0]
        assert len(got_q0) == 3, rows  # full top-k from finite candidates
    knn = S.knn_join(vs, k=2, n_cells=4, n_probe=4).collect()
    ids = {r["neighbor_id"] for r in knn} | {r["query_id"] for r in knn}
    assert 1 not in ids and 5 not in ids
    inertia = S.ivf_inertia(vs, n_cells=4).collect()
    assert all(not math.isnan(r["mean_cos_to_centroid"]) for r in inertia)
