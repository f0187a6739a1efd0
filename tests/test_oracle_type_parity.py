"""Cross-engine output-dtype parity over the FULL registered surface.

The driver's value hash is type/format-sensitive: DuckDB renders
SUM(INTEGER) (HUGEINT) as float64 ("5.0") while Spark's BIGINT renders
"5" — rows+schema green, hash red (the r03 failure class:
woe_lang_documents / auc_documents / dedup_eval_lsh).  Same class:
Spark DecimalType output vs oracle DOUBLE.

This test is plan-only (Spark lazy schema vs DuckDB binder types at
sf0.001 — no query executes), so the whole 200+-query surface is cheap
to cover and the landmine class can never re-enter: any new query whose
Spark output class differs from its oracle's render class fails here
before it ever reaches the driver gate.  Fix by CASTing the oracle
aggregate to BIGINT (see ``__spark_entry__._ORACLE_OUTPUT_CASTS``) or
double-casting the Spark output column.
"""

from __future__ import annotations

import sys

# Default lane on purpose: a plan-only full-surface sweep, the one test
# that builds every registered query and still fits the default lane.

sys.path.insert(0, "/root/repo")


def test_full_surface_type_parity(spark):
    from scripts.audit_type_parity import audit

    violations = [
        f"{name}.{col}: spark={sc} oracle={dc}"
        for name, col, sc, dc in audit()
    ]
    assert not violations, (
        f"{len(violations)} output columns would hash-mismatch cross-engine "
        f"(int-vs-HUGEINT / decimal-vs-double):\n" + "\n".join(violations)
    )
