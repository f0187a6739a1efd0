"""The 6-dp rounding policy has one home: ``functions/rounding.py``.

Value parity: the SQL template (through ``spark.sql``), the Column form
(through ``F``) and the oracle's independent copy
(``oracle_ext.round6_sql`` through DuckDB) return the same doubles on
the edge inputs of the policy — signed zero, the half-up boundary at the
6th digit, the 9e12 domain guard, huge finites, NaN, ±Inf and NULL.

Source guard: the template body is written out only in the policy module
and in the oracle; every operator imports the shared name.
"""

from __future__ import annotations

import math
import pathlib
import re

import duckdb
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    round6,
)
from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import round6_sql

INPUTS = [
    0.0, -0.0, 1e-7, 5e-7, -5e-7, 1.2345675, 123456.7654325,
    8.99e12, 9.0e12, 1e300, math.nan, math.inf, -math.inf, None,
]

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "data_profiler_for_aws_glue_data_catalog_spark"
TEMPLATE_BODY = "floor(({x}) * 1000000.0 + 0.5)"


def _key(v):
    # repr keeps the sign of zero and spells NaN, so equality is bitwise
    # up to NaN payloads
    return None if v is None else repr(float(v))


def _policy(x):
    if x is None or not abs(x) < 9.0e12:  # NaN fails the guard too
        return x
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _spark_frame(spark):
    return spark.createDataFrame(
        list(enumerate(INPUTS)), "i int, x double"
    )


def test_round6_forms_match_the_oracle(spark):
    _spark_frame(spark).createOrReplaceTempView("round6_inputs")
    via_sql = {
        r.i: _key(r.r)
        for r in spark.sql(
            f"SELECT i, {ROUND6.format(x='x')} AS r FROM round6_inputs"
        ).collect()
    }
    via_col = {
        r.i: _key(r.r)
        for r in _spark_frame(spark)
        .select("i", round6(F.col("x")).alias("r"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(INPUTS)))
    via_oracle = {
        i: _key(r)
        for i, r in con.execute(f"SELECT i, {round6_sql('x')} AS r FROM t").fetchall()
    }
    con.close()

    table = [
        (INPUTS[i], via_sql[i], via_col[i], via_oracle[i])
        for i in range(len(INPUTS))
    ]
    bad = [row for row in table if len(set(row[1:])) != 1]
    assert not bad, f"(input, ROUND6, round6, oracle) disagree: {bad}"
    # and all three are the policy itself: half-up at the 6th digit in
    # IEEE doubles inside the guard, pass-through outside it
    want = [_key(_policy(x)) for x in INPUTS]
    assert [row[1] for row in table] == want


def test_rounding_policy_has_one_home():
    sources = [ROOT / "__spark_entry__.py", *PKG.rglob("*.py")]
    holders = sorted(
        str(p.relative_to(ROOT))
        for p in sources
        if TEMPLATE_BODY in p.read_text()
    )
    assert holders == [
        "data_profiler_for_aws_glue_data_catalog_spark/functions/rounding.py",
        "data_profiler_for_aws_glue_data_catalog_spark/oracle_ext.py",
    ]
    defs = re.compile(r"^\s*(ROUND6\s*=|def round6\b|r6\s*=\s*\()", re.M)
    definers = sorted(
        str(p.relative_to(ROOT)) for p in sources if defs.search(p.read_text())
    )
    assert definers == [
        "data_profiler_for_aws_glue_data_catalog_spark/functions/rounding.py"
    ]
