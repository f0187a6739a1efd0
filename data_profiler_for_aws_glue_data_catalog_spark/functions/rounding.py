"""The engine's cross-engine determinism policy for doubles and sums.

One home for two decisions every operator shares with its DuckDB mirror:

- how a double is rounded to 6 decimal places so that Spark and DuckDB
  agree bit-for-bit (``ROUND6`` for SQL text, ``round6`` for Columns);
- the exact decimal type that sums accumulate in (``SUM_DECIMAL``).

The two rounding forms are kept apart on purpose. In Spark SQL the
literal ``1000000.0`` is a DECIMAL, while ``round6`` builds double
literals, so the forms produce different (equally exact) plans; writing
one in terms of the other would change every plan that uses it. The
oracle's reference, ``oracle_ext.round6_sql``, keeps its own text so the
tests compare against an independent copy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ROUND6 = (  # 6-dp deterministic rounding; specials/huge pass through
    "CASE WHEN abs({x}) < 9.0e12 "
    "THEN floor(({x}) * 1000000.0 + 0.5) / 1000000.0 ELSE ({x}) END"
)

# Exact accumulation type: values are rounded to 6 decimal places on cast,
# sums stay exact (decimal add is associative -> partition-order invariant).
SUM_DECIMAL = "decimal(27,6)"  # sum fits decimal(37,6): ~1e31 headroom


def round6(col: Column) -> Column:
    """Deterministic 6-dp rounding: floor(x * 1e6 + 0.5) / 1e6.

    Engine round() implementations (JVM BigDecimal HALF_UP vs DuckDB's C
    path) can disagree in the last ulp; this fixed IEEE expression is
    reproduced exactly by the oracle. Intended for non-negative or
    contract-defined values (it's floor-based, not half-away-from-zero).

    Domain guard (float-specials fuzz axis): Spark's ``floor`` on DOUBLE
    returns BIGINT, silently saturating Infinity to Long.Max and NaN to
    0, while DuckDB's floor propagates them — so NaN/±Inf (and finite
    |x| >= 9e12, where 6-dp resolution exceeds double ulp anyway) pass
    through unrounded on BOTH sides.
    """
    return F.when(
        F.abs(col) < F.lit(9.0e12),
        F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0),
    ).otherwise(col)
