"""Scan-shareable metrics: ONE fused aggregation pass per table.

This reproduces the single real optimization in the reference stack — Deequ's
AnalysisRunner groups all "scan-shareable" analyzers into one aggregation
job (invoked at DataProfilerForAWSGlueDataCatalog.scala:295) — but natively:
we build every per-column aggregate expression up front and hand Catalyst a
single ``df.agg(*exprs)``. Spark plans it as partial HashAggregate on the
scan -> single-row exchange -> final aggregate, i.e. one pass over the data
regardless of column count, inside whole-stage codegen.

Metrics computed here (SURVEY.md §2.A):
  dataset: Size (#1)
  text + numeric: Completeness (#2), ApproxCountDistinct (#3, HLL++)
  text: MaxLength (#5), MinLength (#6)
  numeric: ApproxQuantiles (#12, KLL/GK sketch via percentile_approx),
           Maximum (#13), Mean (#14), Minimum (#15),
           StandardDeviation (#16, POPULATION stddev — Deequ parity),
           Sum (#17)

Determinism contract
--------------------
Double aggregation order in a distributed engine depends on partitioning, so
naive SUM/AVG/STDDEV over doubles is not reproducible run-to-run (nor
comparable against an external oracle). We therefore compute Sum / Mean /
StandardDeviation through EXACT decimal accumulation (values rounded to 6
decimal places, sums exact and associative), then convert the exact sums to
double and finish the arithmetic in a fixed expression shape. Re-running the
profiler on the same data yields bit-identical metrics at any partition
count — and matches an ANSI-SQL oracle computing the same expressions.
Cost: decimal aggregation is ~1.5-2x a double sum on the agg side; the scan
still dominates wall-clock for wide tables.

One finisher
------------
How a column's metrics are finished from its raw aggregates — which
metrics each column kind gets, the decimal-domain guard, the Sum/Mean/
StandardDeviation arithmetic on each branch — lives here only
(``finish`` over a ``Moments`` record). Other producers only say where
the moments live: grouped aggregates (windowed/grouped profiles), merged
state columns (incremental), an observed row (observe).

Scale notes (100 TB)
--------------------
- One job per ~64 columns (``max_fused_columns_per_pass``): hundreds of
  columns x ~10 aggregate expressions each stresses whole-stage codegen;
  batching keeps each job inside codegen limits. Each batch is still a
  full-scan single-pass agg.
- The agg is all map-side partial work + one single-row exchange — no
  data-volume shuffle at all. The scan is the cost; column pruning is
  irrelevant here (the profiler reads every profiled column by design).
- Sketches (HLL++, percentile_approx) keep per-column state bounded
  (~1.5 KB and ~accuracy entries respectively) so driver/executor memory is
  O(columns), independent of rows.
- NO repartition guard here, deliberately: a row-group-starved table (one
  parquet row group caps scan parallelism at 1) profiles faster wide, but
  a database-wide union of such plans schedules tables' stage chains
  concurrently — inter-table parallelism already saturates the cluster,
  and inserting a round-robin exchange per table measured 6x SLOWER for
  the 10-table scan at sf0.1 (stage oversubscription + an extra full-table
  shuffle each). Single-table callers that want intra-table width on
  split-starved input can repartition explicitly
  (plans.partitioning.ensure_parallelism).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import SUM_DECIMAL
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
    metric_struct_sql,
    sql_ident,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
    COMPUTE_GUARD_MIN_BYTES,
    _estimate_scan,
)

# Exact accumulation type for squares (sums: rounding.SUM_DECIMAL).
SQ_DECIMAL = "decimal(18,6)"  # squares -> decimal(37,12), sum decimal(38,12)

# Value-domain guards for the exact-decimal paths (SURVEY.md §5). Inputs
# are try_cast so a value outside the decimal domain yields NULL instead of
# an ANSI error; the guard predicate (over max(abs(x)) of the SAME rows)
# switches the finished metric to a plain-double fallback whenever any
# value is out of range. Inside the domain the decimal branch is
# bit-reproducible at any partitioning; outside it the fallback is
# standard IEEE aggregation (correct, but last-ulp partition-order
# dependent) — documented tradeoff.
SUM_GUARD_SQL = "1e21"  # decimal(27,6) integral headroom
SQ_GUARD_SQL = "1e12"  # decimal(18,6) integral headroom (squares)
# Resolution floor: below this magnitude the 6-dp rounding dominates the
# values themselves, so the decimal branch is disabled (see in_domain_sql).
_FLOOR_SQL = "1e-3"


@dataclass
class _Batch:
    """One fused-agg job: aliased agg expressions + row->structs builders.

    Expressions are Spark-SQL STRINGS, not Column objects: every Column
    method is a py4j round trip, and a profile plan is thousands of
    expression nodes (measured ~19 s of driver time for a 10-table database
    at sf0.1 — more than the execution itself). Strings assemble for free
    and the whole batch crosses the bridge in two calls (one selectExpr for
    the agg row, one for the unpivot); Catalyst parses them into the same
    trees the DSL would have built.
    """

    exprs: list[str] = field(default_factory=list)
    builders: list[Callable[[], list[str]]] = field(default_factory=list)
    _n: int = 0

    def alias(self) -> str:
        self._n += 1
        return f"m{self._n}"

    def add(self, expr: str, make_structs: Callable[[str], list[str]]) -> None:
        a = self.alias()
        self.exprs.append(f"({expr}) AS {a}")
        self.builders.append(lambda a=a: make_structs(a))


def in_domain_sql(max_abs: str, limit: str) -> str:
    """The decimal-domain guard over a max(|x|) expression: true when the
    decimal branch applies.

    NULL max (all-null column) -> false -> fallback branch, which also
    returns NULL there. Two-sided domain: the decimal path rounds inputs
    to 6 dp, so a column whose largest magnitude sits below the
    resolution floor (0 < max|x| < 1e-3) would quantize to garbage — an
    all-tiny column collapses to Sum/Mean 0.0, outside [Minimum,
    Maximum]. Such columns take the IEEE branch. All-zero columns stay
    decimal (exact either way); integer columns are never in (0, 1e-3) so
    only fractional doubles can switch.
    """
    m = max_abs
    return (
        f"coalesce({m} < {limit} AND ({m} >= {_FLOOR_SQL} OR {m} = 0), "
        f"false)"
    )


@dataclass(frozen=True)
class Moments:
    """Where one column's raw moments live, as SQL expressions.

    Every producer of scan metrics — the fused pass, the windowed and
    grouped profiles, merged incremental states, an observed scan —
    differs only in this: aggregates over the column, or columns of a
    state / observation row. :func:`finish` turns any of them into the
    same metric expressions. Text columns leave the numeric fields unset.
    """

    rows: str  # rows in scope
    nonnull: str  # non-null values
    min: str = "NULL"
    max: str = "NULL"
    min_len: str = "NULL"
    max_len: str = "NULL"
    max_abs: str = "NULL"  # the decimal-domain guard's input
    sum_dec: str = "NULL"  # exact Σx over 6-dp-rounded values (SUM_DECIMAL)
    sumsq_dec: str = "NULL"  # exact Σx² over the same values (SQ_DECIMAL)
    sum_dbl: str = "NULL"  # IEEE fallbacks
    mean_dbl: str = "NULL"
    sd_dbl: str = "NULL"


def aggregate_moments(q: str) -> Moments:
    """Moments as aggregate expressions over column reference ``q``."""
    xd = f"try_cast({q} AS {SQ_DECIMAL})"
    return Moments(
        rows="count(1)",
        nonnull=f"count({q})",
        min=f"min({q})",
        max=f"max({q})",
        min_len=f"min(length({q}))",
        max_len=f"max(length({q}))",
        max_abs=f"max(abs({q}))",
        sum_dec=f"sum(try_cast({q} AS {SUM_DECIMAL}))",
        sumsq_dec=f"sum({xd} * {xd})",
        sum_dbl=f"sum(cast({q} AS double))",
        mean_dbl=f"avg(cast({q} AS double))",
        sd_dbl=f"stddev_pop(cast({q} AS double))",
    )


def sum_sql(m: Moments) -> str:
    dec = f"cast({m.sum_dec} AS double)"
    return (
        f"CASE WHEN {in_domain_sql(m.max_abs, SUM_GUARD_SQL)} THEN {dec} "
        f"ELSE {m.sum_dbl} END"
    )


def mean_sql(m: Moments) -> str:
    # try_divide: NULL (not an ANSI error) when the column is all-null/empty
    dec = f"try_divide(cast({m.sum_dec} AS double), {m.nonnull})"
    return (
        f"CASE WHEN {in_domain_sql(m.max_abs, SUM_GUARD_SQL)} THEN {dec} "
        f"ELSE {m.mean_dbl} END"
    )


def stddev_pop_sql(m: Moments) -> str:
    """Population stddev from exact decimal moments, fixed expression shape.

    var = (sum(x^2) - sum(x)^2 / n) / n over the 6-dp-rounded values; both
    moments are exact decimals, the finishing arithmetic is a handful of
    IEEE ops -> deterministic. Deequ parity: POPULATION variance
    (NOT Spark's sample-stddev default). Values beyond the decimal domain
    (|x| >= 1e12) switch to the IEEE fallback — see SQ_GUARD_SQL.

    Precision contract: the single-pass moment formula has the classic
    cancellation floor — when sd << sqrt(eps * m2) (near-constant column
    at high magnitude, m2 = second moment), the result is numerical noise
    of order sqrt(eps*m2), in this engine, in the reference's double
    moments, and in any other single-pass implementation. Cross-engine
    agreement below that floor is likewise bounded by it (the oracle's
    scale-12 decimal->double cast is double-rounded; see oracle._stddev_sql
    and tests/test_differential_profile.py).

    sx is the SAME expression as sum_sql's decimal branch, so Catalyst
    dedups the two into one aggregate buffer (same value: both round the
    input to 6 dp before the exact sum).
    """
    sx = f"cast({m.sum_dec} AS double)"
    sx2 = f"cast({m.sumsq_dec} AS double)"
    n = f"cast({m.nonnull} AS double)"
    var = f"try_divide({sx2} - try_divide({sx} * {sx}, {n}), {n})"
    dec = f"CASE WHEN {n} > 0 THEN sqrt(greatest({var}, 0.0D)) END"
    return (
        f"CASE WHEN {in_domain_sql(m.max_abs, SQ_GUARD_SQL)} THEN {dec} "
        f"ELSE {m.sd_dbl} END"
    )


def finish(kind: str, m: Moments) -> list[tuple[str, str]]:
    """(metric name, SQL) for a column of ``kind`` (SURVEY.md §2.A):
    Completeness, then Maximum/Minimum/Sum/Mean/StandardDeviation on
    numerics or MaxLength/MinLength on text. A convertible column that was
    not cast to string gets Completeness only."""
    out = [("Completeness", f"try_divide({m.nonnull}, {m.rows})")]
    if kind == T.NUMERIC:
        return out + [
            ("Maximum", m.max),
            ("Minimum", m.min),
            ("Sum", sum_sql(m)),
            ("Mean", mean_sql(m)),
            ("StandardDeviation", stddev_pop_sql(m)),
        ]
    if kind == T.TEXT:
        return out + [("MaxLength", m.max_len), ("MinLength", m.min_len)]
    return out


def quantile_points(n_quantiles: int) -> list[float]:
    """i/q for i=1..q — includes 1.0, excludes 0.0 (Main.scala:335-337)."""
    return [i / n_quantiles for i in range(1, n_quantiles + 1)]


def quantile_name(p: float) -> str:
    # repr() gives the shortest round-trip form: '0.1' ... '1.0', matching
    # Deequ's Scala Double.toString naming (ApproxQuantiles-0.1 ... -1.0).
    return f"ApproxQuantiles-{p!r}"


def scan_metrics_long(
    df: DataFrame,
    config: ProfilerConfig | None = None,
    include_approx: bool = True,
    include_size: bool = True,
) -> DataFrame:
    """All scan-shareable metrics for every profilable column, as the long
    metrics relation, planned as ceil(columns/64) full-scan agg jobs.

    ``include_approx=False`` drops the sketch metrics (ApproxCountDistinct,
    ApproxQuantiles) — used by the oracle-checked correctness queries, since
    sketches are compared with tolerance, not hash equality.
    """
    config = config or ProfilerConfig()
    df = T.cast_convertibles(df, config)

    profiled = [
        (f.name, T.classify(f.dataType, config), f.dataType.simpleString())
        for f in df.schema.fields
    ]
    profiled = [(c, k, t) for c, k, t in profiled if k is not None]

    # Sketch aggregates (HLL++, percentile) are TypedImperativeAggregates:
    # one in a pass forces the WHOLE pass onto ObjectHashAggregateExec,
    # kicking every cheap codegen'd sum/min/max out of whole-stage codegen.
    # They get their own scan pass instead — two fast scans beat one slow one.
    # Exact count-distincts (for Distinctness — reference parity: emitted for
    # EVERY profiled column in every mode, addTextAnalyzers/addNumericAnalyzers
    # in Main.scala:314-348) also get their own pass: Spark plans multi-column
    # distinct aggregation with an Expand (one duplicated row per distinct
    # column), and mixing that into the cheap pass would multiply ITS input
    # too. One Expand pass for C columns still beats the reference's C
    # separate frequency jobs: one scan, one shuffle of per-partition
    # distinct values.
    batches: list[_Batch] = [_Batch()]
    sketch_batches: list[_Batch] = [_Batch()]
    distinct_batches: list[_Batch] = [_Batch()]
    if include_size:
        batches[0].add(
            "count(1)",
            lambda a: [metric_struct_sql("Dataset", "*", "Size", a, None)],
        )

    per_batch = max(1, config.max_fused_columns_per_pass)
    # r9 (guide §2): a SPLIT-STARVED scan (e.g. one parquet row group) caps
    # every batch pass at `splits` tasks no matter the cluster size, so wide
    # fused batches serialize. A round-robin repartition is the wrong fix
    # here — measured 3x the CPU (the exchange replaces the vectorized
    # columnar scan with row-format shuffle reads, and differently-pruned
    # branches each re-shuffle). Instead shrink the COLUMN batch size so
    # ~defaultParallelism single-split jobs run concurrently: each narrow
    # pass keeps the vectorized parquet read (pruned to its own columns;
    # the column data is still read once in total) and the DAG scheduler
    # overlaps them. Same metrics, same values — batching only groups
    # expressions into jobs. No-op at 100 TB (splits >= cores) and for
    # small inputs (below the byte floor the per-job overhead dominates).
    est = _estimate_scan(df)
    if est is not None and profiled:
        splits, nbytes = est
        target = df.sparkSession.sparkContext.defaultParallelism
        if splits < target and nbytes >= COMPUTE_GUARD_MIN_BYTES:
            # ~4 columns per pass measured best for the 16-col 600k-row
            # shape (wall 5.8->3.4 s AND cpu 19.3->15.0 s vs one 64-col
            # batch: smaller per-row aggregate buffers + ~cores'-worth of
            # concurrent narrow jobs; 1-col batches over-fragment and pay
            # per-job overhead). The splits factor keeps the batch count
            # proportionate when the scan already has some width.
            per_batch = min(
                per_batch,
                max(4, -(-len(profiled) * max(splits, 1) // target)),
            )
    for i, (c, kind, typ) in enumerate(profiled):
        if i and i % per_batch == 0:
            batches.append(_Batch())
            sketch_batches.append(_Batch())
            distinct_batches.append(_Batch())
        b = batches[-1]
        sb = sketch_batches[-1]
        db = distinct_batches[-1]
        q = sql_ident(c)

        def m(name: str, col_name=c, col_type=typ):
            def make(a: str, name=name):
                return [metric_struct_sql("Column", col_name, name, a, col_type)]

            return make

        for name, expr in finish(kind, aggregate_moments(q)):
            b.add(expr, m(name))
        # Distinctness = exact distinct non-null / non-null rows (Deequ's
        # frequency-table d/n), emitted for every profiled column in every
        # mode — reference parity (Main.scala:318,342).
        db.add(
            f"try_divide(cast(count(DISTINCT {q}) AS double), count({q}))",
            m("Distinctness"),
        )
        if include_approx:
            sb.add(
                f"approx_count_distinct({q}, {config.approx_distinct_rsd!r})",
                m("ApproxCountDistinct"),
            )
        if kind == T.NUMERIC and include_approx:
            pts = quantile_points(config.n_quantiles)
            pts_sql = ", ".join(repr(p) for p in pts)
            sb.add(
                f"percentile_approx({q}, array({pts_sql}), "
                f"{config.quantile_accuracy})",
                lambda a, col_name=c, col_type=typ, pts=pts: [
                    metric_struct_sql(
                        "Column",
                        col_name,
                        quantile_name(p),
                        f"element_at({a}, {i + 1})",
                        col_type,
                    )
                    for i, p in enumerate(pts)
                ],
            )
    batches += sketch_batches + distinct_batches

    parts: list[DataFrame] = []
    for b in batches:
        if not b.exprs:
            continue
        row = df.selectExpr(*b.exprs)
        structs = [s for make in b.builders for s in make()]
        # inline() explodes the array of metric structs straight into the
        # five metric columns — the whole unpivot is ONE parsed expression.
        parts.append(row.selectExpr(f"inline(array({', '.join(structs)}))"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*METRIC_COLS)
