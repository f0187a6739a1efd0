"""Every path that finishes scan metrics agrees with the fused pass.

The decimal-domain guard (SURVEY.md §5) and the Sum/Mean/
StandardDeviation arithmetic have one home, scan_metrics.finish. Each
producer — windowed, grouped, merged incremental states, an observed
scan — only says where a column's raw moments live. Over the guard's edge
inputs, each must match ``scan_metrics_long``:

- decimal branch: exactly (exact sums, fixed finishing expressions);
- IEEE branch: within 1e-12 relative (partial sums merge in another
  order);
- incremental IEEE StandardDeviation: within 1e-3 relative (per-increment
  var_pop merged by Chan's formula, against one-pass stddev_pop).
"""

from __future__ import annotations

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.operators.grouped_profile import (
    grouped_profile,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.incremental import (
    incremental_profile,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.observe import (
    attach_scan_observation,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    scan_metrics_long,
)
from data_profiler_for_aws_glue_data_catalog_spark.streaming.windowed_profile import (
    windowed_profile,
)

INPUTS = {
    "sq_overflow_1e15": [1.0e15, 2.0e15, 3.0e15],
    "sum_overflow_1e22": [1.0e22, 2.0e22],
    "below_floor_pair": [-4.76837158203125e-07, -4.70197740328915e-38],
    "all_zero": [0.0, 0.0, 0.0],
    "below_floor_with_null": [4e-7, 3e-7, 2e-4, None],
    "near_constant_1e13": [1e13 + d for d in (1.0, 3.0, 7.0, 2.0)],
    "all_null": [None, None],
}

METRICS = ("Completeness", "Maximum", "Minimum", "Sum", "Mean", "StandardDeviation")


def _decimal_branch(vals: list, name: str) -> bool:
    """Whether the fused pass takes the exact-decimal branch for ``name``."""
    if name not in ("Sum", "Mean", "StandardDeviation"):
        return True
    present = [abs(v) for v in vals if v is not None]
    if not present:
        return True  # all NULL: both branches are NULL
    m = max(present)
    limit = 1e12 if name == "StandardDeviation" else 1e21
    return m == 0 or 1e-3 <= m < limit


@pytest.fixture(scope="module")
def frame(spark):
    """One double column per input (NULL-padded to a common length: NULLs
    move no moment but Completeness, which every path sees alike) and a
    row index. One input partition: the order in which Spark merges IEEE
    partial moments across tasks is not under test. Over four partitions
    an observed stddev_pop of the 1e13 column (partials merged in task
    completion order) moved by 5e-5 relative between runs of one plan."""
    n = max(map(len, INPUTS.values()))
    cols = {c: v + [None] * (n - len(v)) for c, v in INPUTS.items()}
    rows = [(i, *(cols[c][i] for c in INPUTS)) for i in range(n)]
    schema = ", ".join(["i int", *(f"{c} double" for c in INPUTS)])
    return spark.createDataFrame(rows, schema).coalesce(1)


def _by_column(rows) -> dict[tuple[str, str], float | None]:
    return {(r["instance"], r["name"]): r["value"] for r in rows}


def _run(path: str, spark, df):
    x = df.drop("i")
    if path == "windowed":
        ts = F.to_timestamp(F.lit("2024-01-01 00:30:00"))
        return windowed_profile(x.withColumn("ts", ts), "ts").collect()
    if path == "grouped":
        return grouped_profile(x.withColumn("g", F.lit("a")), "g").collect()
    if path.startswith("incremental"):
        k = int(path[-1])
        parts = [df.where(F.col("i") % k == r).drop("i") for r in range(k)]
        return incremental_profile(parts).collect()
    observed, handle = attach_scan_observation(x, include_approx=False)
    observed.count()
    return handle.metrics(spark).collect()


@pytest.mark.parametrize(
    "path",
    ["windowed", "grouped", "incremental_1", "incremental_2", "incremental_3", "observed"],
)
def test_every_finishing_path_matches_the_fused_pass(spark, frame, path):
    want = _by_column(scan_metrics_long(frame.drop("i"), include_approx=False).collect())
    got = _by_column(_run(path, spark, frame))
    for case, vals in INPUTS.items():
        for name in METRICS:
            g, w = got[(case, name)], want[(case, name)]
            where = f"{case} {name}: got {g!r}, fused pass {w!r}"
            if w is None or g is None or _decimal_branch(vals, name):
                assert g == w, where
            else:
                rel = (
                    1e-3
                    if path.startswith("incremental") and name == "StandardDeviation"
                    else 1e-12
                )
                assert math.isclose(g, w, rel_tol=rel, abs_tol=0.0), where


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "data_profiler_for_aws_glue_data_catalog_spark")
# The two-sided guard's signature: the resolution floor literal and the
# "OR max|x| = 0" clause that keeps all-zero columns decimal.
_GUARD_TEXT = re.compile(r"OR \S+ = 0\)|\b1e-3\b")


def test_decimal_domain_guard_is_defined_once():
    """The guard text appears in engine code only in scan_metrics.py (the
    DuckDB oracles keep their own independent text)."""
    files = [os.path.join(_REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(_PKG):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    holders = sorted(
        os.path.relpath(p, _PKG)
        for p in files
        if not os.path.basename(p).startswith("oracle")
        and _GUARD_TEXT.search(open(p, encoding="utf-8").read())
    )
    assert holders == [os.path.join("operators", "scan_metrics.py")]
