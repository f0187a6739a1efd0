from __future__ import annotations

import math
import tempfile

import pyspark.sql.functions as F
import pytest

from data_profiler_for_aws_glue_data_catalog_spark import ProfilerConfig, profile_table
from data_profiler_for_aws_glue_data_catalog_spark.operators import incremental as IC

EXPENSIVE = ProfilerConfig(compute_expensive=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def li(lineitem):
    # timestamp column is not profiled by the default config
    return lineitem.drop("l_shipdate")


def test_incremental_equals_full_profile(spark, li):
    """2-way split -> states -> merge -> metrics == single-pass profile."""
    full = profile_table(li, EXPENSIVE, include_approx=False)
    inc = IC.incremental_profile(
        [
            li.where(F.col("l_orderkey") % 2 == 0),
            li.where(F.col("l_orderkey") % 2 == 1),
        ],
        EXPENSIVE,
    )
    assert _rows(inc) == _rows(full)


def test_incremental_three_way_and_empty_increment(spark, li):
    full = profile_table(li, EXPENSIVE, include_approx=False)
    inc = IC.incremental_profile(
        [
            li.where(F.col("l_orderkey") % 3 == 0),
            li.where(F.col("l_orderkey") % 3 == 1),
            li.where(F.col("l_orderkey") % 3 == 2),
            li.where(F.lit(False)),  # empty increment is a no-op
        ],
        EXPENSIVE,
    )
    assert _rows(inc) == _rows(full)


def test_states_parquet_round_trip(spark, li):
    """States persist as Parquet (decimals + HLL binary survive) and the
    read-back states finish to the same metrics."""
    cfg = EXPENSIVE
    s = IC.scan_states(li, cfg)
    f = IC.frequency_states(li, cfg)
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    s.write.mode("overwrite").parquet(d1)
    f.write.mode("overwrite").parquet(d2)
    ms = IC.merge_scan_states(spark.read.parquet(d1))
    mf = IC.merge_frequency_states(spark.read.parquet(d2))
    got = IC.scan_metrics_from_states(ms).unionByName(
        IC.frequency_metrics_from_states(mf, ms, cfg)
    )
    full = profile_table(li, cfg, include_approx=False)
    assert _rows(got) == _rows(full)


def test_merge_is_associative(spark, li):
    """merge(merge(a,b), c) == merge(a, merge(b,c)) for the exact fields."""
    cfg = ProfilerConfig()
    parts = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    states = [IC.scan_states(p, cfg) for p in parts]
    left = IC.merge_scan_states(
        IC.merge_scan_states(states[0].unionByName(states[1])).unionByName(
            states[2]
        )
    )
    right = IC.merge_scan_states(
        states[0].unionByName(
            IC.merge_scan_states(states[1].unionByName(states[2]))
        )
    )
    # hll bytes may differ in internal sketch mode; IEEE fallback moments
    # are order-dependent in the last ulp by definition. The exact fields —
    # counts, decimal sums, min/max — must be bit-identical.
    ieee = ["sum_dbl", "mean_dbl", "m2_dbl"]
    drop = ["hll", *ieee]
    assert _rows(left.drop(*drop)) == _rows(right.drop(*drop))
    dbl_l = {r.instance: tuple(r[c] for c in ieee) for r in left.collect()}
    dbl_r = {r.instance: tuple(r[c] for c in ieee) for r in right.collect()}
    for k in dbl_l:
        for a, b in zip(dbl_l[k], dbl_r[k]):
            if a is None or b is None:
                assert a == b
            else:
                assert a == pytest.approx(b, rel=1e-12)


def test_hll_state_tolerance(spark, li):
    """Merged Datasketches HLL estimate within 3*rsd of the exact count
    (lgK=12 -> rsd ~= 1.04/sqrt(4096) ~= 1.6%)."""
    cfg = ProfilerConfig()
    s = IC.scan_states(li.where(F.col("l_orderkey") % 2 == 0), cfg).unionByName(
        IC.scan_states(li.where(F.col("l_orderkey") % 2 == 1), cfg)
    )
    est = {
        r.instance: r.value
        for r in IC.approx_distinct_from_states(IC.merge_scan_states(s)).collect()
    }
    rsd = 1.04 / math.sqrt(2**12)
    for c in ("l_orderkey", "l_partkey", "l_returnflag", "l_quantity"):
        exact = li.select(c).where(F.col(c).isNotNull()).distinct().count()
        assert abs(est[c] - exact) <= max(3 * rsd * exact, 1.0), c


def test_scan_states_single_pass(spark, li):
    """Per-increment scan state is ONE fused job: a single parquet scan."""
    plan = IC.scan_states(li, ProfilerConfig())._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_frequency_states_single_shuffle(spark, li):
    """All columns' frequency states ride one Expand + one aggregation:
    exactly one shuffle exchange in the plan."""
    plan = (
        IC.frequency_states(li, ProfilerConfig())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1
