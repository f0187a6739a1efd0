"""TF-IDF term scoring over a document corpus.

The classic relevance weight, as a two-join DataFrame plan:

    tf(d, t)  = occurrences of t in d
    idf(t)    = ln(N / doc_freq(t))        (N = corpus size)
    tfidf     = tf * idf

Plan shape:

1. per-(doc, token) term counts — explode + groupBy, map-side partial
   aggregation collapses within-doc repeats before the shuffle (same
   first stage as vocabulary.token_topk);
2. token document frequencies — second aggregation of the SAME pair
   relation keyed by token (Spark reuses the pair exchange for both
   consumers);
3. N — one scalar count, attached as a broadcast single-row cross join
   (the histogram-total trick: no second scan, no driver round trip);
4. equi-join counts with doc frequencies on token. At corpus scale both
   sides are hash-partitioned by token; a hot token (stopword) is AQE's
   skew case — or pre-filter with ``min_doc_freq``/``max_doc_freq_ratio``
   the way real pipelines drop stopwords and hapaxes anyway.

Scores are ROUND6'd in a fixed expression shape; ln() is libm (the
Entropy precedent) so the oracle compares at 6 dp too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions import text as X
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import round6


def tfidf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 1,
) -> DataFrame:
    """(id, token, tf, doc_freq, tfidf) for every (document, token) pair
    with doc_freq >= min_doc_freq. Deterministic: exact integer tf/df,
    one fixed double expression, ROUND6."""
    pairs = (
        docs.select(
            F.col(id_col).alias("id"), X.tokens(F.col(text_col)).alias("_toks")
        )
        .select("id", F.explode("_toks").alias("token"))
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_by_token = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    if min_doc_freq > 1:
        df_by_token = df_by_token.where(F.col("doc_freq") >= min_doc_freq)
    n = docs.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        pairs.join(df_by_token, on="token")
        .crossJoin(F.broadcast(n))
        .select(
            "id",
            "token",
            "tf",
            "doc_freq",
            round6(
                F.col("tf").cast("double")
                * F.log(F.col("_n").cast("double") / F.col("doc_freq"))
            ).alias("tfidf"),
        )
    )
    return scored
