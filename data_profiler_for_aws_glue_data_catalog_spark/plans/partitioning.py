"""Partitioning guards for CPU-heavy plans.

Spark parallelizes a file scan by *splits* (row groups for parquet); a table
stored as one or few row groups — small files, single-file test tables,
badly-written upstream data — runs every downstream narrow transformation on
that many cores, no matter how big the cluster is. For scan-bound work that
is fine; for expression-heavy operators (shingling, hashing, SimHash bit
folds, vector math) it serializes the real cost.

``ensure_parallelism`` inserts ONE explicit round-robin repartition when (and
only when) the plan's scan parallelism is below the cluster default. At
100 TB the input has thousands of natural splits and this is a no-op; on a
single-row-group table it converts a serial stage into a full-width one for
the price of shuffling the (projected) input once — which the downstream
compute dominates. The explicit partition count is deliberately NOT left to
AQE: AQE's coalescing targets shuffle *bytes* (64 MB advisory) and would
collapse a small-but-CPU-expensive stage back to one task.
"""

from __future__ import annotations

import math
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Mirrors JavaUtils.byteStringAs: optional k/m/g/t/p prefix, optional 'b'
# suffix, so "128m", "256mb", "4194304b", "1g", "1gb" all parse.
_SIZE_RE = re.compile(r"^([0-9]+(?:\.[0-9]+)?)\s*([kmgtp]?)b?$")
_SIZE_MULT = {
    "": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
    "p": 1 << 50,
}


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size config value ("128m", "256mb", "1g")."""
    m = _SIZE_RE.match(v.strip().lower())
    if not m:
        raise ValueError(f"unparseable Spark byte-size value: {v!r}")
    return int(float(m.group(1)) * _SIZE_MULT[m.group(2)])


def _remote_sizes(df: DataFrame, files: list[str]) -> dict[str, int] | None:
    """Stat remote (s3://, hdfs://, ...) input files via the JVM Hadoop
    FileSystem — a driver-side metadata call against paths the scan's file
    index already listed, no job.  None on any failure (missing FS impl,
    credentials): the caller falls back to the file-count lower bound."""
    try:
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        sizes: dict[str, int] = {}
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            fs = path.getFileSystem(hconf)
            sizes[f] = fs.getFileStatus(path).getLen()
        return sizes
    except Exception:
        return None


def _estimate_scan(df: DataFrame) -> tuple[int, int] | None:
    """(estimated scan splits, total input bytes) — see _estimate_scan_splits."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    conf = df.sparkSession.conf
    try:
        max_part = _size_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _size_bytes(
            conf.get("spark.sql.files.openCostInBytes", "4m"))
    except (ValueError, KeyError):
        return None
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    paths: list[str] = []
    remote = False
    for f in files:
        if f.startswith("file:"):
            paths.append(unquote(urlparse(f).path))
        elif "://" not in f:
            paths.append(f)
        else:
            remote = True
            break
    if remote:
        # Stat remote files only for the few-large-files shape the byte
        # math matters for. A large file count is already >= any
        # plausible repartition target, so the count lower bound decides
        # by itself — and statting thousands of objects would be
        # thousands of driver RPCs per guard call at 100 TB.
        if len(files) > 64:
            # splits >= file count; bytes unknown but irrelevant (the
            # split count alone already no-ops every guard)
            return len(files), 1 << 50
        sizes = _remote_sizes(df, files)
        if sizes is None:
            return len(files), 1 << 50
    else:
        try:
            sizes = {p: os.path.getsize(p) for p in paths}
        except OSError:
            return len(paths), 1 << 50
    raw_bytes = sum(sizes.values())
    total = raw_bytes + open_cost * len(sizes)
    max_split = min(max_part, max(open_cost, total // max(parallelism, 1) or 1))
    splits = 0
    for p, size in sizes.items():
        byte_splits = max(1, math.ceil(size / max_split))
        if p.endswith((".gz", ".zst", ".snappy", ".bz2")) and not p.endswith(
            ".parquet"
        ):
            byte_splits = 1
        if p.endswith(".parquet"):
            try:
                import pyarrow.parquet as pq

                byte_splits = min(byte_splits, pq.ParquetFile(p).num_row_groups or 1)
            except Exception:
                pass
        splits += byte_splits
    return splits, raw_bytes


def _estimate_scan_splits(df: DataFrame) -> int | None:
    """Planning-free estimate of ``df``'s scan parallelism.

    ``inputFiles()`` walks the ANALYZED plan's file indexes — a driver-side
    listing, no physical planning, no job, and (unlike ``df.rdd``) no
    pinning of the pre-AQE partition count.  From the file list:

      - remote store (s3://, hdfs://, ...): stat the files through the
        Hadoop FileSystem on the driver (the same listing the scan's file
        index already performed) and apply the identical byte-range split
        math — so a 4x1GB s3:// layout correctly estimates ~32 splits and
        skips the repartition.  If the JVM stat fails (no FS impl, auth),
        fall back to the raw file count: a lower bound on splits, which at
        100 TB (thousands of files) still no-ops the guard.
      - local parquet: effective parallelism is bounded BOTH by Spark's
        byte-range splits (ceil(size / maxSplitBytes), the
        FilePartition formula with openCostInBytes packing) AND by the
        footer's row-group count — a byte range with no row-group midpoint
        yields an empty task.  min of the two, summed over files.
      - local non-parquet: byte-range splits only (.gz et al are
        unsplittable: 1).

    Returns None when there are no input files (in-memory LocalRelation,
    a view over literals) — the caller treats that as "assume narrow".
    An unparseable size conf (Spark would reject it at scan time anyway)
    also returns None, degrading to the repartition fallback rather than
    crashing the query.
    """
    est = _estimate_scan(df)
    return est[0] if est is not None else None


def ensure_parallelism(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Repartition ``df`` to cluster default parallelism if its SCAN would
    run on fewer splits; otherwise return it unchanged.

    Call it on the *narrowest projection* that feeds the expensive
    expressions, so the one-time shuffle moves as few bytes as possible,
    and on a scan-rooted frame (no shuffle between source and here) — the
    estimate reads the file sources, which is exactly the stage whose
    width it guards.  ``multiple`` widens the target for stages whose
    per-row cost is extreme.

    The estimate never forces physical planning (the old
    ``df.rdd.getNumPartitions()`` probe compiled the physical plan per
    call and pinned the pre-AQE partition count).  An in-memory source
    with no files estimates None and is repartitioned: a LocalTableScan
    is the 1-partition shape the guard exists for.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiple
    est = _estimate_scan_splits(df)
    if est is None or est < target:
        return df.repartition(target)
    return df


# Cost floor for spreading a split-starved scan (scan_metrics' column
# batching): below this many input bytes the serial stage is cheap enough
# that the extra jobs and their barriers cost more than they recover.
# 2 MiB ~= a few hundred-k narrow rows — measured crossover for the
# fused-agg/percentile family on local[32] (r9). Env-overridable for other
# hosts; at 100 TB the byte threshold is irrelevant because natural splits
# no-op the guard first.
COMPUTE_GUARD_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_COMPUTE_GUARD_MIN_BYTES", 2 << 20)
)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a shared expensive subtree so it is computed
    exactly ONCE.

    A lazy ``persist()`` alone is not enough when the consumers are
    *concurrent*: AQE submits independent stage futures (both sides of a
    self-join, a broadcast build, a subquery) at the same time, and every
    one of them finds the cache unpopulated and recomputes the subtree —
    measured at sf0.1 this multiplies the dominant map stage 2-4x. Same
    pattern a 100 TB pipeline uses: checkpoint the inverted index /
    signature / normed-vector relation, then fan out.

    ``localCheckpoint(eager=True)`` rather than ``persist()+count()``:
    a persisted relation lives in the session's CacheManager until an
    explicit unpersist — and operators cannot unpersist, because their
    lazy result still references the subtree when they return. In a
    long-lived session (a 181-query bench loop, a profiling service)
    those entries accumulate without bound; checkpoint blocks are instead
    reclaimed once the result frame is dereferenced. Lineage truncation
    also FAILS the job on block loss instead of silently recomputing a
    subtree whose outputs (e.g. pinned partition ids) must not change —
    recompute-different-answers is the worse failure mode here.
    """
    return df.localCheckpoint(eager=True)


def materialize_wide(df: DataFrame) -> DataFrame:
    """``materialize`` + restore cluster-width partitioning when AQE
    collapsed the plan's tail exchange.

    AQE coalesces shuffle outputs by BYTES (64 MB advisory), so a small
    aggregated relation (deduped vectors, a frequency table) checkpoints
    as ONE partition — and every CPU-heavy consumer (all-pairs cosine,
    banded self-joins) then runs single-task no matter the cluster size.
    Reading ``.rdd.getNumPartitions()`` on the ALREADY-materialized frame
    is a metadata lookup on the checkpointed block RDD — the plan has
    executed, so unlike probing a lazy frame this compiles nothing and
    cannot pin a pre-AQE shape.  When the stored width is below the
    cluster default, one explicit round-robin repartition (AQE never
    coalesces a user-specified count) re-widens it; the re-checkpoint
    moves only the small relation.  At 100 TB the aggregated relation is
    byte-wide already and this is a pure no-op.
    """
    m = materialize(df)
    n = m.sparkSession.sparkContext.defaultParallelism
    if m.rdd.getNumPartitions() < n:
        # lazy on purpose: each consumer re-runs the repartition from the
        # checkpointed blocks — a sub-100ms shuffle of a small relation,
        # cheaper than a second eager checkpoint of the same data
        return m.repartition(n)
    return m


def partitioned_prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    num_partitions: int | None = None,
    small_threshold: int = 1_000_000,
    pinned: bool = False,
) -> DataFrame:
    """Distributed prefix sums: for each ``c`` in ``sum_cols`` add
    ``cum_<c>`` = sum of c over all rows with order_col <= this row's
    (in ``order_col`` order, including the row itself).

    A plain ``Window.orderBy(order_col)`` computes this on ONE task — the
    classic single-partition-window scale killer for rank/CDF operators.
    This is the textbook two-phase alternative:

      1. range-repartition by ``order_col`` (keeps order across
         partitions, equal keys co-located);
      2. per-partition local cumsums (window partitioned by the physical
         partition id — parallel across partitions);
      3. per-partition totals collected to the driver (one tiny row per
         partition), turned into a broadcast offset map added map-side.

    Output values are INDEPENDENT of where the sampled range boundaries
    fall (offsets are computed from the actual partition sums), so the
    result is deterministic even though RangePartitioner samples. Input
    rows must be unique in ``order_col`` (pre-aggregate first — every
    caller here feeds a ``groupBy(value)`` frequency relation).

    ADAPTIVE: below ``small_threshold`` rows the plain single-partition
    window wins (the two-phase plan pays ~6 extra jobs + a driver
    collect; a 1M-row sorted window is a sub-second single task) — the
    distributed path engages only when the distinct relation is actually
    data-sized. Both paths produce identical values.

    COMPUTE-ONCE: the input is ``materialize``d before the adaptive
    ``count()`` so the upstream aggregation (typically a groupBy-frequency
    over a data-sized scan) runs exactly once — previously the count and
    the cumsum each recomputed it. Callers that consume the same relation
    again (a totals agg beside the CDF) should ``materialize`` it
    themselves and pass ``pinned=True`` to skip the second checkpoint;
    the frame they pass then serves every consumer from the stored
    blocks. The big path's internal re-checkpoint of the range-
    repartitioned frame stays: partition ids must be pinned for its two
    consumers, and the stored relation is the same size either way.
    """
    from pyspark.sql import Window, functions as F

    if not pinned:
        df = materialize(df)
    if df.count() <= small_threshold:
        w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
        return df.select(
            "*", *[F.sum(c).over(w).alias(f"cum_{c}") for c in sum_cols]
        )

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = materialize(parted)  # pin pids: both consumers must agree
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parted.select(
        "*", *[F.sum(c).over(w).alias(f"_lc_{c}") for c in sum_cols]
    )
    totals = (
        parted.groupBy("_pid")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    offsets: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    for c in sum_cols:
        acc = 0
        for r in sorted(totals, key=lambda r: r["_pid"]):
            offsets[c][r["_pid"]] = acc
            acc += r[c] or 0
    out = local
    for c in sum_cols:
        m = F.create_map(
            *[x for pid, off in sorted(offsets[c].items())
              for x in (F.lit(pid), F.lit(off))]
        )
        out = out.withColumn(
            f"cum_{c}",
            (F.coalesce(F.element_at(m, F.col("_pid")), F.lit(0))
             + F.col(f"_lc_{c}")),
        )
    return out.drop("_pid", *[f"_lc_{c}" for c in sum_cols])
