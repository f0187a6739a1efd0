"""Unigram surprisal scoring: corpus-LM "perplexity-lite" per document.

Quality/novelty signal without a neural LM: score each document by the
mean negative log-probability of its tokens under the corpus unigram
distribution (add-one smoothed). Boilerplate scores low (common
words), gibberish/outliers score high — the cheap first-pass filter
before an expensive model-based scorer.

  p(w) = (count(w) + 1) / (N + V)
  surprisal(doc) = -(1/|doc|) * sum ln p(w_i)

Plan shape:
1. unigram counts: ONE groupBy(word) shuffle (map-side combine);
2. totals (N, V) from the count relation, broadcast;
3. tokens re-explode and equi-join the (word -> count) relation — the
   join is word-keyed, AQE broadcasts when the vocab fits;
4. per-doc mean via ONE groupBy(doc) with DECIMAL-accumulated ROUND6'd
   per-token terms — order-free.

Scale notes (100 TB): two explode passes over the corpus (count +
score) and one vocab join — the TF-IDF cost shape. Token terms are
bounded (ln p >= ln(1/(N+V))), so the decimal accumulator cannot
overflow on any real corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

SURPRISAL_COLS = ["doc_id", "n_tokens", "surprisal"]


def _toks(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("w"),
    )


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, surprisal) per doc with >= 1 token."""
    toks = _toks(docs, text_col, id_col)
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = counts.agg(
        F.sum("cw").alias("N"), F.count(F.lit(1)).alias("V")
    )
    term = (
        "-ln( (cast(cw AS double) + 1.0)"
        " / (cast(N AS double) + cast(V AS double)) )"
    )
    scored = (
        toks.join(counts, "w")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "doc_id",
            f"cast({ROUND6.format(x=term)} AS decimal(27,6)) AS t",
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("t").alias("st"))
    )
    mean = "cast(st AS double) / cast(n_tokens AS double)"
    return scored.selectExpr(
        "doc_id",
        "n_tokens",
        f"cast({ROUND6.format(x=mean)} AS double) AS surprisal",
    ).select(*SURPRISAL_COLS)


def unigram_surprisal_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB mirror (same smoothing, rounding, decimal accumulation)."""
    term = (
        "-ln( (CAST(cw AS DOUBLE) + 1.0)"
        " / (CAST(N AS DOUBLE) + CAST(V AS DOUBLE)) )"
    )
    mean = "CAST(st AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
    unnest(list_filter(string_split({text_col}, ' '), t -> t <> '')) AS w
  FROM {table}
),
counts AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY w),
totals AS (SELECT SUM(cw) AS N, COUNT(*) AS V FROM counts),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
    SUM(CAST({ROUND6.format(x=term)} AS DECIMAL(27,6))) AS st
  FROM toks JOIN counts USING (w) CROSS JOIN totals
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
  CAST({ROUND6.format(x=mean)} AS DOUBLE) AS surprisal
FROM scored
"""
