"""Corpus pattern / PII scan: regex hit statistics per pattern.

Training-data hygiene operator: count how often each named regex
(PII shapes — emails, phone-ish digit runs, IPs — or arbitrary content
patterns) occurs across a text corpus, per pattern:
(pattern_name, n_docs, n_docs_with_hit, total_hits, doc_hit_rate,
 hits_per_doc).

Plan shape: ONE map-side projection computes `regexp_count` for every
pattern in the same codegen stage (JVM regex, no Python), then ONE
single-row fused aggregate; `stack` unpivots the aggregate to one row
per pattern. Zero shuffles beyond the final 1-row reduce.

Pattern language: keep to the RE2/Java common subset (character
classes, alternation, +/*/?, anchors) — the DuckDB oracle runs the
same strings through RE2.

Scale notes (100 TB): embarrassingly parallel single scan; cost is
O(patterns x bytes) regex work distributed across executors. For
per-document flags instead of corpus totals, use the projection
directly (`pattern_hits`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

# PII-shaped presets (RE2/Java-compatible, intentionally conservative).
PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}",
    "phoneish": "[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "digit_run": "[0-9]{6,}",
}

PATTERN_SCAN_COLS = [
    "pattern_name", "n_docs", "n_docs_with_hit", "total_hits",
    "doc_hit_rate", "hits_per_doc",
]


def pattern_hits(
    docs: DataFrame,
    patterns: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document hit counts: (id, hits_<name> ...) — map-side only."""
    return docs.select(
        F.col(id_col),
        *[
            F.regexp_count(F.col(text_col), F.lit(rx)).alias(f"hits_{name}")
            for name, rx in patterns.items()
        ],
    )


def pattern_scan(
    docs: DataFrame,
    patterns: dict[str, str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level regex statistics, one row per named pattern."""
    hits = pattern_hits(docs, patterns, text_col, id_col)
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(
                F.when(F.col(f"hits_{n}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"d_{n}")
            for n in patterns
        ],
        *[F.sum(F.col(f"hits_{n}")).alias(f"t_{n}") for n in patterns],
    )
    stack_args = ", ".join(f"'{n}', d_{n}, t_{n}" for n in patterns)
    unpivoted = agg.selectExpr(
        "n_docs",
        f"stack({len(patterns)}, {stack_args})"
        " AS (pattern_name, n_docs_with_hit, total_hits)",
    )
    rate = "cast(n_docs_with_hit AS double) / cast(n_docs AS double)"
    per_doc = "cast(total_hits AS double) / cast(n_docs AS double)"
    return unpivoted.selectExpr(
        "pattern_name", "n_docs", "n_docs_with_hit", "total_hits",
        f"cast({ROUND6.format(x=rate)} AS double) AS doc_hit_rate",
        f"cast({ROUND6.format(x=per_doc)} AS double) AS hits_per_doc",
    ).select(*PATTERN_SCAN_COLS)


def pattern_scan_sql(
    table: str,
    patterns: dict[str, str],
    text_col: str = "text",
) -> str:
    """DuckDB mirror: len(regexp_extract_all) = non-overlapping match count."""

    def esc(rx: str) -> str:
        return rx.replace("'", "''")

    hit_cols = ",\n    ".join(
        f"len(regexp_extract_all({text_col}, '{esc(rx)}')) AS hits_{n}"
        for n, rx in patterns.items()
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{n}' AS pattern_name, n_docs, d_{n} AS n_docs_with_hit,
  t_{n} AS total_hits,
  CAST({ROUND6.format(x=f"CAST(d_{n} AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS DOUBLE) AS doc_hit_rate,
  CAST({ROUND6.format(x=f"CAST(t_{n} AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS DOUBLE) AS hits_per_doc
FROM agg"""
        for n in patterns
    )
    agg_cols = ",\n    ".join(
        f"SUM(CASE WHEN hits_{n} > 0 THEN 1 ELSE 0 END) AS d_{n},"
        f" SUM(hits_{n}) AS t_{n}"
        for n in patterns
    )
    return f"""
WITH hits AS (
  SELECT
    {hit_cols}
  FROM {table}
),
agg AS (
  SELECT COUNT(*) AS n_docs,
    {agg_cols}
  FROM hits
)
{arms}
"""
