"""Deterministic sampling and dataset splitting.

Training-data pipelines need samples and train/test splits that are
REPRODUCIBLE across runs, engines and cluster layouts — ``df.sample()``
is none of those (seeded per partition: the sample changes whenever
partitioning does). These operators derive a uniform hash bucket from the
ROW IDENTITY instead:

    bucket(id) = first-32-hex-bits of md5(seed || id)  in  [0, 2^32)

and keep a row iff its bucket clears the rate threshold. Properties:

- deterministic under repartition/shuffle/re-run (pure function of id);
- map-side only — a filter fused into the scan, no shuffle, no sort,
  sampling 100 TB costs one scan;
- consistent across tables: the same (seed, id) always lands on the same
  side, so a split made on `documents` implies the matching split of any
  table keyed by doc_id (sample pushdown via semi-join on the kept ids);
- stratified rates are just a per-stratum threshold on the same bucket.

The md5-derived bucket is mirrored expression-for-expression by the
DuckDB oracle (oracle_ext.sample_sql), so sampling is oracle-checked
value-exact like every other operator — a property engine-seeded RNG
sampling cannot offer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.functions.text import M32, hex32_to_long

SPLIT_COL = "split"


def hash_bucket(id_col: Column, seed: int = 0) -> Column:
    """Uniform bucket in [0, 2^32) from md5(seed || id) — the shared
    primitive of every sampling operator here."""
    return hex32_to_long(
        F.md5(F.concat(F.lit(f"{seed}|"), id_col.cast("string")))
    )


def _threshold(rate: float) -> int:
    return int(rate * M32)


def deterministic_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep ~``rate`` of rows, chosen by id hash — same rows every run,
    every partitioning, every engine."""
    return df.where(hash_bucket(F.col(id_col), seed) < _threshold(rate))


def train_test_split(
    df: DataFrame,
    test_rate: float = 0.2,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Adds a ``split`` column ('test' for ~test_rate of rows, else
    'train'). One map-side projection; rows never move."""
    is_test = hash_bucket(F.col(id_col), seed) < _threshold(test_rate)
    return df.withColumn(
        SPLIT_COL, F.when(is_test, F.lit("test")).otherwise(F.lit("train"))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. rebalance languages): keep a row
    iff its bucket clears ITS stratum's threshold. Still one map-side
    filter — the rate table is a literal CASE, no join."""
    bucket = hash_bucket(F.col(id_col), seed)
    thr: Column = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(_threshold(rate))
        ).otherwise(thr)
    return df.where(bucket < thr)


def sample_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACTLY min(k, group size) rows per group, chosen by the same
    deterministic id hash (uniform within each group).

    Rate-based sampling can't promise exact per-class counts; balanced
    eval sets and few-shot pools need them. One window shuffle keyed by
    the group; the (bucket, id) ordering makes the pick reproducible
    across runs, partitionings and engines — the id tie-break covers
    the (vanishing) chance of bucket collisions.

    Scale notes (100 TB): rank-k per key via window top-k; group skew is
    the usual top-k caveat — for pathological single-group corpora,
    pre-filter with deterministic_sample at ~k/|group| first to bound
    the window's input.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def sample_quotas(
    df: DataFrame,
    quotas: dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Exact per-group QUOTAS (mixture construction): group g keeps its
    quotas[g] hash-ranked rows; unlisted groups are dropped. The
    deterministic generalization of sample_per_group for building
    fixed-composition training mixtures ("500 en, 200 de, 100 fr").

    Same single window shuffle as sample_per_group; the quota lookup is
    a literal CASE, no join.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(id_col), seed).asc(), F.col(id_col).asc()
    )
    quota: Column = F.lit(0)
    for value, k in sorted(quotas.items()):
        quota = F.when(F.col(group_col) == value, F.lit(k)).otherwise(quota)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= quota)
        .drop("__rk")
    )


NEG_PAIR_COLS = ["anchor_id", "neg_id", "j"]


def negative_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
) -> DataFrame:
    """k deterministic pseudo-random negative ids per anchor (contrastive
    -training pair generation) — fully map-side candidate construction.

    Requires DENSE ids 0..n-1 (the engine's corpus tables satisfy this;
    re-index upstream otherwise — targets that hit no real id are
    dropped by the verify join, so sparse ids degrade recall, never
    correctness). Target j for anchor i is the Knuth multiplicative hash
    ``(i * 2654435761 + j * 40503) mod n``, bumped by one (mod n) when
    it collides with the anchor itself. The verify join on the target id
    is the only shuffle; output ~ k x n rows.
    """
    n = df.select(id_col).count()
    ids = df.select(F.col(id_col).cast("bigint").alias("anchor_id"))
    j = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    cand = ids.select("anchor_id", j).select(
        "anchor_id",
        "j",
        F.pmod(
            F.col("anchor_id") * F.lit(2654435761) + F.col("j") * F.lit(40503),
            F.lit(n),
        ).alias("_t"),
    ).select(
        "anchor_id",
        "j",
        F.when(F.col("_t") == F.col("anchor_id"), F.pmod(F.col("_t") + 1, F.lit(n)))
        .otherwise(F.col("_t"))
        .alias("neg_id"),
    )
    real = df.select(F.col(id_col).cast("bigint").alias("neg_id"))
    return cand.join(real, "neg_id", "leftsemi").select(*NEG_PAIR_COLS)


def negative_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", k: int = 4
) -> str:
    """DuckDB mirror of :func:`negative_pairs` (same hash, same bump)."""
    return f"""
WITH n AS (SELECT COUNT(*) AS n FROM {table}),
cand AS (
  SELECT CAST({id_col} AS BIGINT) AS anchor_id, j,
    ((CAST({id_col} AS BIGINT) * 2654435761 + j * 40503) % (SELECT n FROM n)
     + (SELECT n FROM n)) % (SELECT n FROM n) AS _t
  FROM {table} CROSS JOIN (SELECT UNNEST(range(1, {k + 1})) AS j)
),
bumped AS (
  SELECT anchor_id, j,
    CASE WHEN _t = anchor_id
         THEN (_t + 1) % (SELECT n FROM n) ELSE _t END AS neg_id
  FROM cand
)
SELECT anchor_id, neg_id, j FROM bumped
WHERE neg_id IN (SELECT CAST({id_col} AS BIGINT) FROM {table})
"""


AQP_COLS = [
    "n_sample", "sample_rate", "mean_est", "ci_low", "ci_high", "sum_est"
]


def aqp_mean_estimate(
    df: DataFrame,
    value_col: str,
    rate: float = 0.01,
    id_col: str = "l_orderkey",
    seed: int = 0,
) -> DataFrame:
    """Approximate-query-processing estimator: mean/sum of ``value_col``
    from a deterministic hash sample, with the normal-approximation 95%
    CI (±1.96·s/√n). The scan touches rate·|rows| — the classic AQP
    trade: a 1% sample answers dashboard aggregates ~100x cheaper with
    quantified error, and the DETERMINISTIC sample makes the estimate
    reproducible run-to-run (no resample jitter between dashboard
    refreshes).

    CI uses the sample stddev (population formula over the sample, the
    engine's decimal-exact moments); estimates are ROUND6'd fixed double
    shapes. NOTE the id-hash sample is a cluster sample when ``id_col``
    repeats (all rows of a sampled id enter) — pick the row-unique id
    for row sampling.
    """
    s = deterministic_sample(df, rate, id_col, seed).where(
        F.col(value_col).isNotNull()
    )
    agg = s.agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.expr(
            f"cast(sum(try_cast({value_col} AS decimal(27,6))) AS double)"
        ).alias("_s"),
        F.expr(
            f"cast(sum(try_cast({value_col} AS decimal(18,6))"
            f" * try_cast({value_col} AS decimal(18,6))) AS double)"
        ).alias("_s2"),
    )
    mean = "(_s / n_sample)"
    var = f"greatest(_s2 / n_sample - {mean} * {mean}, 0.0)"
    half = f"(1.96 * sqrt({var}) / sqrt(cast(n_sample AS double)))"
    return agg.selectExpr(
        "n_sample",
        f"cast({rate!r} AS double) AS sample_rate",
        f"cast({ROUND6.format(x=mean)} AS double) AS mean_est",
        f"cast({ROUND6.format(x=f'{mean} - {half}')} AS double) AS ci_low",
        f"cast({ROUND6.format(x=f'{mean} + {half}')} AS double) AS ci_high",
        f"cast({ROUND6.format(x=f'_s / {rate!r}')} AS double) AS sum_est",
    )


def aqp_mean_estimate_sql(
    table: str,
    value_col: str,
    rate: float = 0.01,
    id_col: str = "l_orderkey",
    seed: int = 0,
) -> str:
    """DuckDB mirror of :func:`aqp_mean_estimate` (same hash sample)."""
    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import sample_sql

    mean = "(_s / n_sample)"
    var = f"greatest(_s2 / n_sample - {mean} * {mean}, 0.0)"
    half = f"(1.96 * sqrt({var}) / sqrt(CAST(n_sample AS DOUBLE)))"
    return f"""
WITH s AS ({sample_sql(rate, table, id_col, seed)}),
agg AS (
  SELECT COUNT(*) AS n_sample,
    CAST(SUM(TRY_CAST({value_col} AS DECIMAL(27,6))) AS DOUBLE) AS _s,
    CAST(SUM(CAST(TRY_CAST({value_col} AS DECIMAL(18,6)) AS DECIMAL(19,6))
      * CAST(TRY_CAST({value_col} AS DECIMAL(18,6)) AS DECIMAL(19,6)))
      AS DOUBLE) AS _s2
  FROM s WHERE {value_col} IS NOT NULL
)
SELECT n_sample,
  CAST({rate!r} AS DOUBLE) AS sample_rate,
  CAST({ROUND6.format(x=mean)} AS DOUBLE) AS mean_est,
  CAST({ROUND6.format(x=f'{mean} - {half}')} AS DOUBLE) AS ci_low,
  CAST({ROUND6.format(x=f'{mean} + {half}')} AS DOUBLE) AS ci_high,
  CAST({ROUND6.format(x=f'_s / {rate!r}')} AS DOUBLE) AS sum_est
FROM agg
"""
