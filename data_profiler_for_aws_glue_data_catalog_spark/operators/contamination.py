"""Benchmark contamination check: n-gram containment vs a corpus.

Before training on a corpus you check whether evaluation-benchmark
documents leak into it. The standard scalable form (the GPT-style
n-gram overlap check) is CONTAINMENT, not pairwise similarity: for each
benchmark document, the fraction of its word n-gram shingles that occur
ANYWHERE in the corpus. No per-document pairing, so there is no
quadratic candidate set to control.

Plan shape:
1. corpus shingles -> one explode + DISTINCT (one shuffle); each
   distinct 60-bit shingle hash survives once, so a stopword n-gram
   shared by millions of corpus docs is ONE row on the build side.
2. benchmark shingles explode -> equi-join on the shingle hash ->
   count hits per benchmark doc (one shuffle + join; AQE broadcasts
   the corpus side if it fits).

Output per benchmark doc (docs with >= 1 shingle, dedup convention):
(id, n_shingles, n_hit, containment, is_contaminated) with containment
= n_hit / n_shingles, ROUND6'd; shingle machinery (tokenization,
60-bit hashing, set semantics) is shared with dedup.py, and the DuckDB
mirror composes the same shingle SQL used by the jaccard oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import _shingle_sets

CONTAMINATION_COLS = [
    "id", "n_shingles", "n_hit", "containment", "is_contaminated",
]


def contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per benchmark doc: fraction of its n-gram shingles present in the
    corpus, flagged at ``threshold``."""
    corpus_sh = (
        _shingle_sets(corpus, text_col, id_col, n)
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    # ENTITY-KEY contract (one output row per benchmark doc id): physical
    # duplicate bench rows would otherwise both multiply output rows AND
    # corrupt the value — n_hit aggregates over every copy's shingles
    # while sz stays per-doc, pushing containment past 1.0 (found by the
    # skew fuzz axis, seed 1: 128 copies of one doc_id). Duplicates
    # collapse to the lexicographically smallest text; min's map-side
    # partial agg makes the dedup itself skew-proof. The corpus side
    # needs nothing: its shingles are DISTINCT'd anyway.
    bench_one = (
        bench.select(F.col(id_col), F.col(text_col))
        .groupBy(id_col)
        .agg(F.min(text_col).alias(text_col))
    )
    bench_sets = _shingle_sets(bench_one, text_col, id_col, n)
    bench_pairs = bench_sets.select("id", "sz", F.explode("sh").alias("h"))
    hits = (
        bench_pairs.join(corpus_sh, "h")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    cont = "cast(coalesce(n_hit, 0) AS double) / cast(sz AS double)"
    return (
        bench_sets.select("id", "sz")
        .join(hits, "id", "left")
        .selectExpr(
            "id",
            "sz AS n_shingles",
            "coalesce(n_hit, 0) AS n_hit",
            f"cast({ROUND6.format(x=cont)} AS double) AS containment",
            f"({cont}) >= {float(threshold)!r} AS is_contaminated",
        )
        .select(*CONTAMINATION_COLS)
    )


def contamination_sql(
    corpus_sql: str,
    bench_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB mirror over corpus/bench subqueries (same shingle SQL)."""
    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import _shingle_sets_sql

    cont = "CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(sz AS DOUBLE)"
    bench_one = (
        f"(SELECT {id_col}, MIN({text_col}) AS {text_col} "
        f"FROM ({bench_sql}) GROUP BY 1)"
    )
    return f"""
WITH cs AS ({_shingle_sets_sql(f"({corpus_sql})", text_col, id_col, n)}),
bs AS ({_shingle_sets_sql(bench_one, text_col, id_col, n)}),
corpus_sh AS (SELECT DISTINCT unnest(sh) AS h FROM cs),
bench_pairs AS (SELECT id, sz, unnest(sh) AS h FROM bs),
hits AS (
  SELECT bp.id, count(*) AS n_hit
  FROM bench_pairs bp JOIN corpus_sh USING (h)
  GROUP BY bp.id
)
SELECT b.id AS id, b.sz AS n_shingles,
  COALESCE(h.n_hit, 0) AS n_hit,
  CAST({ROUND6.format(x=cont)} AS DOUBLE) AS containment,
  ({cont}) >= {float(threshold)!r} AS is_contaminated
FROM (SELECT DISTINCT id, sz FROM bs) b LEFT JOIN hits h ON b.id = h.id
"""
