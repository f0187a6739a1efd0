"""Word-repetition quality signals per document.

Gopher-style repetition filters (Rae et al. 2021, public paper) reduced
to the whitespace-token case: documents dominated by few repeated words
are low-quality training data. Per document:
(doc_id, n_words, n_distinct_words, repetition_ratio, top_word_share)
where repetition_ratio = 1 - distinct/words and top_word_share is the
most frequent word's share of all words.

Plan shape: explode tokens once, then
1. `groupBy(doc_id, word).count()` — ONE data-sized shuffle with
   map-side combine (the explode never materializes rows twice);
2. `groupBy(doc_id)` over the |doc x distinct-word| frame derives
   words (sum), distinct (count) AND the mode count (max) in one
   aggregate — no join back, no window.
Docs with zero tokens produce no rows (explode semantics; the oracle's
unnest does the same).

Scale notes (100 TB): both shuffles key on doc-scoped keys, so
skew is bounded by the largest single document, not corpus hot words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

REPETITION_COLS = [
    "doc_id", "n_words", "n_distinct_words", "repetition_ratio", "top_word_share",
]


def word_repetition(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc repetition stats over whitespace tokens (empty docs omitted)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("word"),
    )
    word_counts = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = word_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_cnt"),
    )
    rep = "1.0 - cast(n_distinct_words AS double) / cast(n_words AS double)"
    top = "cast(top_cnt AS double) / cast(n_words AS double)"
    return per_doc.selectExpr(
        "doc_id",
        "n_words",
        "n_distinct_words",
        f"cast({ROUND6.format(x=rep)} AS double) AS repetition_ratio",
        f"cast({ROUND6.format(x=top)} AS double) AS top_word_share",
    ).select(*REPETITION_COLS)


def word_repetition_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB mirror: unnest(string_split) with the same empty-token filter."""
    rep = "1.0 - CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)"
    top = "CAST(top_cnt AS DOUBLE) / CAST(n_words AS DOUBLE)"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest(
    list_filter(string_split({text_col}, ' '), x -> x <> '')
  ) AS word
  FROM {table}
),
word_counts AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM toks GROUP BY doc_id, word
),
per_doc AS (
  SELECT doc_id, SUM(cnt) AS n_words, COUNT(*) AS n_distinct_words,
    MAX(cnt) AS top_cnt
  FROM word_counts GROUP BY doc_id
)
SELECT doc_id, n_words, n_distinct_words,
  CAST({ROUND6.format(x=rep)} AS DOUBLE) AS repetition_ratio,
  CAST({ROUND6.format(x=top)} AS DOUBLE) AS top_word_share
FROM per_doc
"""
