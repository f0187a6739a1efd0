"""Incremental profiling via mergeable metric STATES (Deequ state model).

Deequ's AnalysisRunner can persist per-run analyzer *states* and compute
metrics over ``runOnAggregatedStates`` — profile each new data increment
as it lands, store a small state, and answer "metrics over everything so
far" by MERGING states instead of rescanning history. The reference app
never wires this, but at 100 TB it is the difference between profiling
a day's partition and re-profiling the table: states make the profile
cost O(new data), not O(all data).

Two state relations, both plain DataFrames (persistable as Parquet):

* **Scan states** — one row per column per increment (+ a dataset row):
  counts, exact-decimal sums/sums-of-squares, the IEEE sum, mean and
  second central moment (var_pop x n), min/max, length min/max, max
  |value| (the decimal-domain guard), and a Datasketches HLL sketch
  (``hll_sketch_agg``) for mergeable approx-distinct. All fields merge
  by sum / min / max / ``hll_union_agg`` (the moments by Chan's formula)
  — one ``groupBy(instance)``.
* **Frequency states** — (instance, value-as-string, cnt): Deequ's
  ``FrequenciesAndNumRows`` state. Merges by summed counts; yields EXACT
  CountDistinct / Distinctness / Entropy / Uniqueness / UniqueValueRatio
  / Histogram after any number of merges. The string cast is injective
  per column (Java Double.toString / Long.toString), so distinct counts
  over strings equal distinct counts over raw values. State size is
  O(distinct values) — the exact-metrics price; the HLL scan state is
  the bounded-size alternative when approximate distinct suffices.

Metric parity: ``incremental_profile`` over any disjoint partition of a
table emits the metric rows of ``profile_table(df,
include_approx=False)`` — the same finisher (scan_metrics.finish) over
the state columns, the same frequency finishing identities
(frequency_metrics.py), so the DuckDB profile oracle checks the merged
path too. Rows are byte-identical wherever the decimal branch applies
(every column inside the decimal domain); out-of-domain columns take the
IEEE branch, whose partial sums and moments merge in another order than
one pass and agree to rounding (Sum/Mean) or to the stability of Spark's
own per-increment var_pop (StandardDeviation), not bit for bit. The
HLL-based ApproxCountDistinct is a different sketch family from the
single-pass HLL++ (``approx_count_distinct``) and is emitted only by
``approx_distinct_from_states`` (tolerance-tested, not hash-checked).
Merged-sketch estimates track a single-pass sketch to within the
sketch's own error (internal sparse->dense mode transitions can differ
between the two paths, so equality is approximate, not exact — the
tolerance tests bound both against the exact count).

Plan shape per increment: scan states are ONE fused agg pass (map-side
partials, single-row exchange); frequency states are ONE shuffle for
all profiled columns (an Expand emits (column, value) pairs, then one
hash aggregation). Merging shuffles only state rows, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import SUM_DECIMAL
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.operators.frequency_metrics import (
    frequency_scalar_aggs,
    frequency_scalars,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    Moments,
    aggregate_moments,
    finish,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
    sql_ident,
    sql_str,
)

DATASET_INSTANCE = "*"

# State column -> type; the columns a row's kind has no moment for are NULL.
_STATE_TYPES = {
    "n_nonnull": "bigint",
    "sum_dec": SUM_DECIMAL,
    "sumsq_dec": "decimal(38,12)",
    "sum_dbl": "double",
    "mean_dbl": "double",
    "m2_dbl": "double",
    "min_val": "double",
    "max_val": "double",
    "min_len": "bigint",
    "max_len": "bigint",
    "max_abs": "double",
    "hll": "binary",
}

SCAN_STATE_COLS = ["instance", "col_type", "kind", "n_rows", *_STATE_TYPES]

_HLL_LGK = 12


def _profiled(df: DataFrame, config: ProfilerConfig):
    cols = [
        (f.name, T.classify(f.dataType, config), f.dataType.simpleString())
        for f in df.schema.fields
    ]
    return [(c, k, t) for c, k, t in cols if k is not None]


def scan_states(
    df: DataFrame,
    config: ProfilerConfig | None = None,
    include_hll: bool = True,
) -> DataFrame:
    """Mergeable scan state for one increment: one fused agg pass.

    ``include_hll=False`` stores NULL in the ``hll`` column instead of a
    Datasketches sketch — same state schema, states still merge, but
    ``approx_distinct_from_states`` over such states yields NULL
    estimates. Callers that never finish the sketch metric (the declared
    ``incremental_profile`` query emits exact frequency metrics only)
    skip the ~C sketch updates + value stringifications per row (r10,
    guide §1.2: don't compute things you throw away); state-persisting
    pipelines that want mergeable approx-distinct keep the default.
    """
    config = config or ProfilerConfig()
    df = T.cast_convertibles(df, config)
    profiled = _profiled(df, config)

    def struct(instance: str, typ: str | None, kind: str, fields: dict) -> str:
        cols = [
            f"'instance', {sql_str(instance)}",
            f"'col_type', CAST({'NULL' if typ is None else sql_str(typ)} AS string)",
            f"'kind', {sql_str(kind)}",
            "'n_rows', count(1)",
        ] + [
            f"'{k}', CAST({fields.get(k, 'NULL')} AS {t})"
            for k, t in _STATE_TYPES.items()
        ]
        return f"named_struct({', '.join(cols)})"

    structs = [struct(DATASET_INSTANCE, None, "dataset", {})]
    for c, kind, typ in profiled:
        q = sql_ident(c)
        agg = aggregate_moments(q)
        fields = {"n_nonnull": agg.nonnull}
        if include_hll:
            fields["hll"] = f"hll_sketch_agg(cast({q} AS string), {_HLL_LGK})"
        if kind == T.NUMERIC:
            fields.update(
                sum_dec=agg.sum_dec,
                sumsq_dec=agg.sumsq_dec,
                sum_dbl=agg.sum_dbl,
                mean_dbl=agg.mean_dbl,
                m2_dbl=f"var_pop(cast({q} AS double)) * {agg.nonnull}",
                min_val=agg.min,
                max_val=agg.max,
                max_abs=agg.max_abs,
            )
        else:
            fields.update(min_len=agg.min_len, max_len=agg.max_len)
        structs.append(
            struct(c, typ, "num" if kind == T.NUMERIC else "text", fields)
        )
    row = df.selectExpr(*[f"({s}) AS s{i}" for i, s in enumerate(structs)])
    return row.selectExpr(
        f"inline(array({', '.join(f's{i}' for i in range(len(structs)))}))"
    ).select(*SCAN_STATE_COLS)


def merge_scan_states(states: DataFrame) -> DataFrame:
    """Merge any number of increments' scan states: one tiny groupBy.

    The IEEE second moment merges by Chan's formula, M2 = sum(m2_i +
    n_i (mean_i - mean)^2) around the pooled mean (a window over the
    instance's state rows, planned on the groupBy's own exchange) — the
    naive sum(x^2) - sum(x)^2/n cancels to 0 at high magnitude.
    """
    n, mean = F.col("n_nonnull"), F.col("mean_dbl")
    w = Window.partitionBy("instance")
    pooled = F.try_divide(F.sum(n * mean).over(w), F.sum(n).over(w))
    return (
        states.withColumn("_mean", pooled)
        .groupBy("instance")
        .agg(
            F.first("col_type", ignorenulls=False).alias("col_type"),
            F.first("kind").alias("kind"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_nonnull").alias("n_nonnull"),
            F.sum("sum_dec").cast(SUM_DECIMAL).alias("sum_dec"),
            F.sum("sumsq_dec").cast("decimal(38,12)").alias("sumsq_dec"),
            F.sum("sum_dbl").alias("sum_dbl"),
            F.max("_mean").alias("mean_dbl"),
            F.sum(F.col("m2_dbl") + n * (mean - F.col("_mean")) ** 2).alias("m2_dbl"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.min("min_len").alias("min_len"),
            F.max("max_len").alias("max_len"),
            F.max("max_abs").alias("max_abs"),
            F.expr("hll_union_agg(hll, true)").alias("hll"),
        )
        .select(*SCAN_STATE_COLS)
    )


# Where a merged scan state keeps each raw moment of its column.
_STATE_MOMENTS = Moments(
    rows="n_rows",
    nonnull="n_nonnull",
    min="min_val",
    max="max_val",
    min_len="min_len",
    max_len="max_len",
    max_abs="max_abs",
    sum_dec="sum_dec",
    sumsq_dec="sumsq_dec",
    sum_dbl="sum_dbl",
    mean_dbl="try_divide(sum_dbl, n_nonnull)",
    sd_dbl="sqrt(try_divide(m2_dbl, n_nonnull))",
)


def scan_metrics_from_states(merged: DataFrame) -> DataFrame:
    """Finish merged scan states into the long metrics relation.

    The finishing expressions are scan_metrics.finish over the state
    columns, so the decimal branch is bit-identical to a single-pass
    profile — and to its DuckDB oracle. The IEEE branch (out-of-domain
    columns) merges partial sums and moments in a different order than
    one pass does and agrees to rounding only. Excludes sketch metrics
    (see approx_distinct_from_states) and frequency metrics.
    """

    def structs(kind: str) -> str:
        return "array(" + ", ".join(
            f"named_struct('entity', 'Column', 'instance', instance, "
            f"'name', {sql_str(name)}, 'value', CAST(({expr}) AS double), "
            f"'type', col_type)"
            for name, expr in finish(kind, _STATE_MOMENTS)
        ) + ")"

    m = (
        f"CASE WHEN instance = {sql_str(DATASET_INSTANCE)} THEN array(named_struct("
        "'entity', 'Dataset', 'instance', instance, 'name', 'Size', "
        "'value', cast(n_rows AS double), 'type', CAST(NULL AS string))) "
        f"WHEN kind = 'num' THEN {structs(T.NUMERIC)} "
        f"ELSE {structs(T.TEXT)} END"
    )
    return merged.selectExpr(f"inline({m})").select(*METRIC_COLS)


def approx_distinct_from_states(merged: DataFrame) -> DataFrame:
    """ApproxCountDistinct from the merged Datasketches HLL state.

    Different sketch family from the single-pass HLL++ metric —
    tolerance-checked, never hash-checked.
    """
    return (
        merged.where(F.col("instance") != DATASET_INSTANCE)
        .selectExpr(
            "'Column' AS entity",
            "instance",
            "'ApproxCountDistinct' AS name",
            "cast(hll_sketch_estimate(hll) AS double) AS value",
            "col_type AS type",
        )
        .select(*METRIC_COLS)
    )


# ------------------------------------------------------------- frequency


def frequency_states(
    df: DataFrame, config: ProfilerConfig | None = None
) -> DataFrame:
    """(instance, value, cnt) for every profiled column, ONE shuffle.

    An Expand (inline of (column, value-string) pairs) feeds a single
    hash aggregation — C columns cost one job shuffling C x rows of
    (small) pairs, with map-side combine bounding hot values. NULLs form
    their own group per column (value IS NULL).
    """
    config = config or ProfilerConfig()
    df = T.cast_convertibles(df, config)
    profiled = _profiled(df, config)
    pairs = ", ".join(
        f"named_struct('instance', {sql_str(c)}, "
        f"'value', cast({sql_ident(c)} AS string))"
        for c, _, _ in profiled
    )
    return (
        df.selectExpr(f"inline(array({pairs}))")
        .groupBy("instance", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_frequency_states(states: DataFrame) -> DataFrame:
    """Merge frequency states: counts add per (instance, value)."""
    return states.groupBy("instance", "value").agg(F.sum("cnt").alias("cnt"))


def frequency_metrics_from_states(
    merged_freq: DataFrame,
    merged_scan: DataFrame,
    config: ProfilerConfig | None = None,
) -> DataFrame:
    """Finish merged frequency states into the expensive metric rows +
    Distinctness for every column — frequency_metrics.py identities.

    Histogram rows are emitted for text columns only (profile parity);
    Distinctness for all profiled columns; scalar expensive metrics
    (CountDistinct/Entropy/Uniqueness/UniqueValueRatio) for text columns
    when ``compute_expensive``.
    """
    config = config or ProfilerConfig()
    meta = merged_scan.where(F.col("instance") != DATASET_INSTANCE).select(
        "instance", "col_type", "kind"
    )
    scal = (
        merged_freq.groupBy("instance")
        .agg(*frequency_scalar_aggs())
        .join(F.broadcast(meta), "instance")
    )
    distinctness = F.try_divide(
        F.col("d").cast("double"), F.col("n").cast("double")
    )
    is_text = F.col("kind") == "text"
    exp = bool(config.compute_expensive)

    # metric_struct burns instance/type as literals; build with columns:
    def ms(name, value):
        return F.struct(
            F.lit("Column").alias("entity"),
            F.col("instance").alias("instance"),
            F.lit(name).alias("name"),
            value.cast("double").alias("value"),
            F.col("col_type").alias("type"),
        )

    rows = scal.select(
        F.explode(
            F.when(
                is_text & F.lit(exp),
                F.array(
                    ms("Distinctness", distinctness),
                    *[ms(name, v) for name, v in frequency_scalars()],
                ),
            ).otherwise(F.array(ms("Distinctness", distinctness)))
        ).alias("kv")
    ).select("kv.*")
    if not exp:
        return rows.select(*METRIC_COLS)

    # Histogram rows: per-text-column top-k over the merged table.
    text_freq = merged_freq.join(
        F.broadcast(meta.where(F.col("kind") == "text")), "instance"
    )
    label = F.coalesce(
        F.col("value"), F.lit(config.histogram_null_label)
    )
    w = Window.partitionBy("instance").orderBy(F.desc("cnt"), F.asc("label"))
    topk = (
        text_freq.select("instance", "col_type", label.alias("label"), "cnt")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= config.n_bins)
    )
    totals = text_freq.groupBy("instance", "col_type").agg(
        F.sum("cnt").alias("_total"),
        F.least(F.count(F.lit(1)), F.lit(config.n_bins)).alias("_bins"),
    )
    bin_rows = (
        topk.join(F.broadcast(totals.select("instance", "_total")), "instance")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("Column").alias("entity"),
                        F.col("instance").alias("instance"),
                        F.concat(F.lit("Histogram.abs."), F.col("label")).alias("name"),
                        F.col("cnt").cast("double").alias("value"),
                        F.col("col_type").alias("type"),
                    ),
                    F.struct(
                        F.lit("Column").alias("entity"),
                        F.col("instance").alias("instance"),
                        F.concat(F.lit("Histogram.ratio."), F.col("label")).alias("name"),
                        F.try_divide(F.col("cnt"), F.col("_total")).cast("double").alias("value"),
                        F.col("col_type").alias("type"),
                    ),
                )
            ).alias("kv")
        )
        .select("kv.*")
    )
    bins_rows = totals.select(
        F.lit("Column").alias("entity"),
        F.col("instance").alias("instance"),
        F.lit("Histogram.bins").alias("name"),
        F.col("_bins").cast("double").alias("value"),
        F.col("col_type").alias("type"),
    )
    return (
        rows.select(*METRIC_COLS)
        .unionByName(bins_rows.select(*METRIC_COLS))
        .unionByName(bin_rows.select(*METRIC_COLS))
    )


# ------------------------------------------------------------ assembled


def incremental_profile(
    increments: list[DataFrame], config: ProfilerConfig | None = None
) -> DataFrame:
    """Profile a table given as disjoint increments: per-increment states
    (O(new data) each in a real pipeline), merged, finished. Output rows
    equal ``profile_table(union, include_approx=False)``."""
    config = config or ProfilerConfig()
    # include_hll=False: this assembled query finishes scan + exact
    # frequency metrics only — the sketch column would be merged and then
    # dropped unread, at the cost of one hll update + one value
    # stringification per row per column (r10; measured in
    # OPTIMIZATION_r10.md). Pipelines persisting states for later
    # approx-distinct finishing call scan_states directly with the
    # default instead.
    sstates = scan_states(increments[0], config, include_hll=False)
    fstates = frequency_states(increments[0], config)
    for inc in increments[1:]:
        sstates = sstates.unionByName(
            scan_states(inc, config, include_hll=False)
        )
        fstates = fstates.unionByName(frequency_states(inc, config))
    # materialize the MERGED states once (r10, guide §5): the finishing
    # expressions consume them from several plan branches (the scalar
    # frequency agg, the histogram top-k window, the per-column totals,
    # and the scan-state meta broadcast), and Spark re-runs the merge
    # aggregation per branch otherwise — measured 4 consumer stages x
    # ~5.5 s CPU each re-aggregating the same ~11 MB shuffle at sf0.1.
    # The merged scan state is one row per column. The merged frequency
    # state is one row per distinct (column, value) — O(distinct values),
    # the same thing a real pipeline would PERSIST as its state table: as
    # large as the data for a near-unique column.
    from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
        materialize,
    )

    ms = materialize(merge_scan_states(sstates))
    mf = materialize(merge_frequency_states(fstates))
    return scan_metrics_from_states(ms).unionByName(
        frequency_metrics_from_states(mf, ms, config)
    )
