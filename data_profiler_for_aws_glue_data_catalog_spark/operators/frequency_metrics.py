"""Frequency-table ("expensive") metrics: one shared groupBy per column.

Deequ shares a single ``groupBy(col).count()`` frequency table across all
frequency-based analyzers of a column (SURVEY.md §4.1); we do the same, and
additionally let Spark's *exchange reuse* share the shuffle between the two
consumers (the scalar aggregate and the histogram top-k): both branch from
the same groupBy plan, so the second job reuses the first's shuffle map
output (visible as ReusedExchange / skipped stages).

Metrics (SURVEY.md §2.A, text columns, gated on compute_expensive):
  #7  CountDistinct       exact distinct (non-null)
  #8  Entropy             Shannon entropy, natural log, non-null distribution
  #10 UniqueValueRatio    #singleton values / #distinct values
  #11 Uniqueness          #singleton values / non-null rows
  #9  Histogram           top-n_bins values by frequency ->
                          Histogram.bins / Histogram.abs.<v> / Histogram.ratio.<v>

(#4 Distinctness moved to the scan passes — it is emitted for EVERY
profiled column in every mode, reference parity, via the exact
count-distinct batch in scan_metrics.py.)

Null handling: the frequency table groups the RAW column, so nulls form
their own group — no sentinel-string collision. Non-null metrics filter the
null group out; the histogram relabels it ``NullValue`` (Deequ's literal).

Entropy is computed in the same single pass via the identity
  H = -sum(p ln p), p = cnt/N  ==>  H = ln(N) - sum(cnt ln cnt)/N
so no second pass over the frequency table is needed.

Histogram tie-break is deterministic: count DESC, value-string ASC.

Scale notes (100 TB)
--------------------
- The groupBy shuffles hash-partitioned by value; AQE coalesces/splits
  post-shuffle partitions, including skew (a single hot value is one group
  row after partial aggregation, so skew pressure is bounded by map-side
  combine).
- Top-k uses orderBy(...).limit(k) which Spark plans as
  TakeOrderedAndProject: per-partition partial top-k, merge of k rows per
  partition on the driver — NOT a global sort. Never use a global
  row_number() window for top-k at scale.
- The scalar metrics agg is a full reduction of the frequency table to one
  row — partial-agg + single-row exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
    metric_struct,
    sql_ident,
)


def frequency_table(df: DataFrame, column: str) -> DataFrame:
    """(value, cnt) — raw column values incl. a null group.

    sql_ident: names with backticks/dots must not be parsed as multi-part
    attribute references."""
    return df.groupBy(F.col(sql_ident(column)).alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def frequency_scalar_aggs() -> list[Column]:
    """d, n, u, clnc over a (value, cnt) frequency relation: distinct
    non-null values, non-null rows, singleton values and sum(cnt ln cnt)."""
    nn = F.col("value").isNotNull()
    cnt = F.col("cnt")
    return [
        F.count(F.when(nn, True)).alias("d"),
        F.sum(F.when(nn, cnt)).alias("n"),
        F.count(F.when(nn & (cnt == 1), True)).alias("u"),
        F.sum(F.when(nn, cnt * F.log(cnt.cast("double")))).alias("clnc"),
    ]


def frequency_scalars() -> list[tuple[str, Column]]:
    """(metric name, value) of CountDistinct/Entropy/UniqueValueRatio/
    Uniqueness over the columns of :func:`frequency_scalar_aggs`."""
    d, n, u, clnc = (F.col(x).cast("double") for x in ("d", "n", "u", "clnc"))
    return [
        ("CountDistinct", d),
        ("Entropy", F.when(n > 0, F.log(n) - F.try_divide(clnc, n))),
        ("UniqueValueRatio", F.try_divide(u, d)),
        ("Uniqueness", F.try_divide(u, n)),
    ]


def frequency_scalar_metrics(
    freq: DataFrame, column: str, col_type: str
) -> DataFrame:
    """CountDistinct/Entropy/UniqueValueRatio/Uniqueness from a frequency
    table, in one tiny aggregate."""
    row = freq.agg(*frequency_scalar_aggs())
    structs = F.array(
        *[
            metric_struct("Column", column, name, value, col_type)
            for name, value in frequency_scalars()
        ]
    )
    return row.select(F.explode(structs).alias("kv")).select("kv.*")


def histogram_metrics(
    freq: DataFrame,
    column: str,
    col_type: str,
    n_bins: int,
    null_label: str = "NullValue",
) -> DataFrame:
    """Histogram.bins + Histogram.abs.<v> + Histogram.ratio.<v> top-k rows.

    ratio denominator is TOTAL rows (nulls included — the null group is a
    first-class bin labeled ``null_label``), taken from the frequency table
    itself via a broadcast 1-row cross join (no second scan of the base
    table).
    """
    label = F.coalesce(F.col("value").cast("string"), F.lit(null_label))
    topk = (
        freq.select(label.alias("label"), "cnt")
        .orderBy(F.desc("cnt"), F.asc("label"))
        .limit(n_bins)
    )
    totals = freq.agg(
        F.sum("cnt").alias("_total"),
        F.least(F.count(F.lit(1)), F.lit(n_bins)).alias("_bins"),
    )
    joined = topk.crossJoin(F.broadcast(totals))
    bin_rows = joined.select(
        F.explode(
            F.array(
                metric_struct(
                    "Column",
                    column,
                    F.concat(F.lit("Histogram.abs."), F.col("label")),
                    F.col("cnt"),
                    col_type,
                ),
                metric_struct(
                    "Column",
                    column,
                    F.concat(F.lit("Histogram.ratio."), F.col("label")),
                    F.try_divide(F.col("cnt"), F.col("_total")),
                    col_type,
                ),
            )
        ).alias("kv")
    ).select("kv.*")
    bins_row = totals.select(
        F.explode(
            F.array(
                metric_struct(
                    "Column", column, "Histogram.bins", F.col("_bins"), col_type
                )
            )
        ).alias("kv")
    ).select("kv.*")
    return bins_row.unionByName(bin_rows).select(*METRIC_COLS)


def frequency_metrics_long(
    df: DataFrame, column: str, col_type: str, config: ProfilerConfig
) -> DataFrame:
    """All expensive metrics for one column (shared frequency table)."""
    freq = frequency_table(df, column)
    scalars = frequency_scalar_metrics(freq, column, col_type)
    hist = histogram_metrics(
        freq, column, col_type, config.n_bins, config.histogram_null_label
    )
    return scalars.select(*METRIC_COLS).unionByName(hist)
