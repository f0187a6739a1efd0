"""Physical-plan shape regression tests.

Correctness tests prove the operators compute the right rows; these prove
they compute them with the right PLAN — the properties that decide whether
an operator survives a 100x scale-up:

- candidate generation in near-dup/ANN operators is equi-join-based
  (no BroadcastNestedLoopJoin / CartesianProduct except where a kernel is
  explicitly brute-force);
- IVF cell assignment is map-side (no Exchange between the input relation
  and the assignment projection);
- parquet scans receive pushed filters and pruned read schemas;
- the tiny schema side of the metrics type join is broadcast.

Plan strings come from the same explain path ``DataFrame.explain`` uses,
asserted on substrings stable across Spark 4 plan rendering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.operators import dedup as D
from data_profiler_for_aws_glue_data_catalog_spark.operators import similarity as S
from data_profiler_for_aws_glue_data_catalog_spark.sources.registry import read_parquet_table

SF_SMOKE = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(jqe, mode)


def test_embedding_dedup_default_is_bucketed(embeddings):
    """The registered embedding dedup (IVF cells) must not plan an O(n^2)
    nested-loop join; the brute-force kernel is opt-in via n_cells=None."""
    bucketed = plan_str(D.embedding_near_duplicates(embeddings))
    assert "BroadcastNestedLoopJoin" not in bucketed
    assert "CartesianProduct" not in bucketed

    brute = plan_str(D.embedding_near_duplicates(embeddings, n_cells=None))
    assert "BroadcastNestedLoopJoin" in brute or "CartesianProduct" in brute


def test_ivf_assignment_is_map_side(embeddings):
    """Nearest-centroid assignment = literal-array argmax: zero exchanges
    on top of the input relation (the crossJoin+window formulation this
    replaced shuffled n_cells x the data)."""
    e = D.with_norm(embeddings).select(
        F.col("vec_id").alias("id"), "_v", "_norm"
    )
    cents = S.collect_centroids(e, 4)
    assigned = S.assign_cells(e, cents)
    assert "Exchange" not in plan_str(assigned)


def test_ivf_topk_no_nested_loop(embeddings):
    """IVF search joins candidates on the cell key (equi) with a broadcast
    probe side — never a nested-loop/cartesian plan."""
    p = plan_str(S.ivf_topk(embeddings, [0, 1], k=5, n_cells=4, n_probe=2))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_lsh_band_joins_are_equi(documents):
    """MinHash-LSH and SimHash candidate joins collide on band keys:
    equi-joins only, no all-pairs operator anywhere in the plan."""
    for df in (
        D.minhash_lsh_near_duplicates(documents),
        D.simhash_near_duplicates(documents),
    ):
        p = plan_str(df)
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def _lambda_bodies(plan: str):
    """Text of every ``lambdafunction(...)`` call in a plan string."""
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            if depth == 0:
                break
            i += 1
        yield plan[start : i + 1]
        start = plan.find("lambdafunction(", start + 1)


def test_shingle_sets_tokenize_once(spark, monkeypatch):
    """The shingle producer tokenizes each document once: the tokenizer's
    regexp_replace appears once in the optimized plan and never inside a
    lambda (higher-order functions run interpreted, so a tokenizer read
    from a per-gram lambda re-runs once per gram)."""
    materialized = []
    materialize = D.materialize
    monkeypatch.setattr(
        D, "materialize", lambda df: materialized.append(df) or materialize(df)
    )
    docs = spark.createDataFrame([(0, "a b c d")], "doc_id bigint, text string")
    D._shingle_sets(docs, "text", "doc_id", 3)
    (shingled,) = materialized
    p = shingled._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("regexp_replace(") == 1, p
    bodies = list(_lambda_bodies(p))
    assert bodies and not any("regexp_replace" in b for b in bodies), p


def test_parquet_scan_pushdown(spark):
    """Filters and projections must reach the parquet scan: PushedFilters
    populated, ReadSchema pruned to the selected columns."""
    li = read_parquet_table(spark, f"{SF_SMOKE}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    p = plan_str(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity," in p
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_metrics_type_join_is_broadcast(spark):
    """The metrics-to-schema-type join broadcasts the tiny schema side."""
    import __spark_entry__ as e

    df = e.queries()["metrics_typed_join"](spark, SF_SMOKE)
    p = plan_str(df)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_exact_dedup_single_shuffle(documents):
    """Exact dedup = one hash-partition exchange on the content key (the
    window), nothing else — no join-back, no second shuffle."""
    p = plan_str(D.exact_duplicates(documents), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_iqr_outliers_has_no_shuffle(lineitem):
    """Outlier fences: two fused scans joined by a broadcast — zero
    hash-partition exchanges at any scale."""
    from data_profiler_for_aws_glue_data_catalog_spark.operators.outliers import iqr_outliers

    p = plan_str(iqr_outliers(lineitem, ["l_quantity", "l_discount"]), "simple")
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_percentile_defaults_are_sketch_safe(lineitem):
    """The DEFAULT percentile family path must plan percentile_approx
    (bounded GK-sketch state), never the exact percentile aggregate —
    exact percentile accumulates O(n) per-column state in one aggregation
    buffer, an executor OOM at 100 TB. exact=True stays available and is
    pinned only in the oracle-hashed registrations."""
    import re

    from data_profiler_for_aws_glue_data_catalog_spark.operators.numeric_histogram import (
        equi_depth_histograms,
    )
    from data_profiler_for_aws_glue_data_catalog_spark.operators.outliers import (
        iqr_outliers,
        mad_outliers,
        winsorize,
    )

    for df in (
        iqr_outliers(lineitem, ["l_quantity"]),
        mad_outliers(lineitem, ["l_quantity"]),
        winsorize(lineitem, ["l_quantity"]),
        equi_depth_histograms(lineitem, ["l_quantity"], 4),
    ):
        p = plan_str(df, "simple")
        assert "percentile_approx" in p
        # no exact-percentile aggregate anywhere in the default plan
        assert not re.search(r"(?<!_)percentile\(", p), p


def test_cooccurrence_join_is_equi(lineitem):
    """Pair generation must be a hash/sort-merge equi-join on the group
    key, never a nested-loop product."""
    from data_profiler_for_aws_glue_data_catalog_spark.operators.cooccurrence import cooccurrence_topk

    p = plan_str(cooccurrence_topk(lineitem, "l_orderkey", "l_partkey", 5), "simple")
    assert "CartesianProduct" not in p
    # the pair generator is an equi-join on the group key (the only BNLJ
    # allowed is the broadcast of the 1-row total)
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_fuzzy_join_is_blocked_equi(spark):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.fuzzy_join import fuzzy_join

    part = read_parquet_table(spark, f"{SF_SMOKE}/part.parquet")
    p = plan_str(fuzzy_join(part, "p_partkey", "p_name", 2), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ref_integrity_joins_aggregates_not_tables(spark):
    """The FK join operands must be the aggregated key relations: the plan
    has aggregates BELOW the join, and the join is equi."""
    from data_profiler_for_aws_glue_data_catalog_spark.operators.ref_integrity import referential_integrity

    li = read_parquet_table(spark, f"{SF_SMOKE}/lineitem.parquet")
    orders = read_parquet_table(spark, f"{SF_SMOKE}/orders.parquet")
    df = referential_integrity(li, "l_orderkey", orders, "o_orderkey", "l", "o")
    p = plan_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_pattern_scan_is_single_pass(documents):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.pattern_scan import PII_PATTERNS, pattern_scan

    p = plan_str(pattern_scan(documents, PII_PATTERNS), "simple")
    assert "Exchange hashpartitioning" not in p  # 1-row global agg only
    assert "Join" not in p


def test_scd2_single_join_no_window(spark):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.scd2 import scd2_merge

    cust = read_parquet_table(spark, f"{SF_SMOKE}/customer.parquet")
    old = cust.select("c_custkey", "c_mktsegment")
    new = cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_mktsegment")
    p = plan_str(scd2_merge(old, new, ["c_custkey"], ["c_mktsegment"],
                            "2024-01-01 00:00:00", "2024-02-01 00:00:00"), "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p  # classification is map-side, not a window


def test_trend_shuffles_are_entity_keyed(spark):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.trend import trend_slopes

    ev = read_parquet_table(spark, f"{SF_SMOKE}/events.parquet")
    p = plan_str(trend_slopes(ev), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_column_fingerprints_no_shuffle(spark):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.column_match import column_fingerprints

    nation = read_parquet_table(spark, f"{SF_SMOKE}/nation.parquet")
    p = plan_str(column_fingerprints(nation, "nation"), "simple")
    assert "Exchange hashpartitioning" not in p  # 1-row fused min-agg only


def test_partitioned_prefix_sums_matches_window(spark):
    """The distributed two-phase cumsum must equal the single-window
    result, forced down both code paths via the threshold knob."""
    from pyspark.sql import functions as F

    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import partitioned_prefix_sums

    df = spark.range(5000).select(
        (F.col("id") * 7 % 4999).alias("v"), F.lit(1).alias("c")
    ).groupBy("v").agg(F.sum("c").alias("c"))
    small = {
        r["v"]: r["cum_c"]
        for r in partitioned_prefix_sums(df, "v", ["c"]).collect()
    }
    big = {
        r["v"]: r["cum_c"]
        for r in partitioned_prefix_sums(
            df, "v", ["c"], small_threshold=0
        ).collect()
    }
    assert small == big
    assert small[max(small)] == 5000  # last cum = total row weight


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """A date-partitioned write must yield partition-pruned scans: the
    filter lands in PartitionFilters and non-matching directories are
    never read — the layout contract that makes time-scoped queries at
    100 TB touch only their slice."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i % 5)) for i in range(100)],
        "id long, ts timestamp",
    ).withColumn("dt", F.to_date("ts"))
    out = str(tmp_path / "parted")
    df.write.partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).where(F.col("dt") == "2026-01-03")
    p = plan_str(back)
    assert "PartitionFilters" in p and "2026-01-03" in p
    assert back.count() == 20


def test_incremental_dedup_restricts_candidate_side(documents):
    """The incremental LSH candidate join must take only NEW-doc bands on
    the probe side (broadcast semi join on the new-id set) — never the
    full self-join."""
    from pyspark.sql import functions as F

    p = plan_str(
        D.minhash_lsh_incremental(documents, F.col("doc_id") % 4 == 0)
    )
    assert "LeftSemi" in p  # the new-id restriction
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_scale_plans_survive_broadcast_threshold_off(spark, embeddings, documents):
    """Ops teams commonly run 100 TB clusters with
    autoBroadcastJoinThreshold=-1 (no size-based auto-broadcast). The
    engine's small sides are broadcast by EXPLICIT F.broadcast hints, so
    candidate generation must stay equi-join/broadcast-shaped — never
    degrade to a nested-loop or cartesian — when the threshold is off."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {
            "ivf_topk": plan_str(
                S.ivf_topk(embeddings, [0, 1], k=5, n_cells=4, n_probe=2)
            ),
            "minhash_lsh": plan_str(D.minhash_lsh_near_duplicates(documents)),
            "embedding_dedup": plan_str(D.embedding_near_duplicates(embeddings)),
        }
        for name, p in plans.items():
            assert "BroadcastNestedLoopJoin" not in p, name
            assert "CartesianProduct" not in p, name
        # the explicit hint still broadcasts the centroid/query side
        assert "BroadcastExchange" in plans["ivf_topk"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
