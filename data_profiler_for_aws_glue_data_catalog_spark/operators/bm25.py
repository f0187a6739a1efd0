"""BM25 keyword retrieval: score documents for a term query, top-k.

Okapi BM25 (Robertson et al., public):
  score(D, Q) = sum_{t in Q} idf(t) * tf(t,D)*(k1+1) /
                (tf(t,D) + k1*(1 - b + b*|D|/avgdl))
  idf(t) = ln( (N - df + 0.5) / (df + 0.5) + 1 )   (the Lucene form)

The lexical complement to the embedding ANN operators — hybrid
retrieval pipelines run both and fuse.

Plan shape:
1. per-doc term frequencies: explode + ONE groupBy(doc, term) shuffle
   (doc lengths ride the same relation via a window sum — no second
   scan);
2. the query is a literal term list: ``isin`` prunes the tf relation
   to query terms BEFORE anything else joins;
3. df per query term aggregates from the pruned tf relation (tiny);
   N and avgdl come from a broadcast 1-row aggregate;
4. per-(doc, term) scores sum with ONE groupBy(doc) over query-term
   rows only; ``orderBy().limit(k)`` -> TakeOrderedAndProject.

Determinism: integer counts everywhere; the score is a fixed double
expression; per-term contributions are ROUND6'd and accumulated in
DECIMAL(27,6) so the cross-term sum is order-free; ties broken by
doc id.

Scale notes (100 TB): the only corpus-sized work is the tf shuffle
(the same one vocabulary/tfidf pay); everything after the query-term
prune is O(docs containing query terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

BM25_COLS = ["doc_id", "score", "n_terms_hit"]


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k (doc_id, score, n_terms_hit) for the bag-of-terms query."""
    if not query_terms:
        raise ValueError("bm25_topk: empty query")
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
        ).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy("doc")))
    corpus = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    )
    avgdl = (
        dl.select("doc", "dl")
        .distinct()
        .agg(F.sum("dl").alias("total_len"), F.count(F.lit(1)).alias("n_nonempty"))
    )
    hits = dl.where(F.col("term").isin([str(t) for t in query_terms]))
    df_per_term = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.join(F.broadcast(df_per_term), "term")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(avgdl))
    )
    avg_expr = "cast(total_len AS double) / cast(n_nonempty AS double)"
    idf = (
        "ln( (cast(n_docs AS double) - cast(df AS double) + 0.5)"
        " / (cast(df AS double) + 0.5) + 1.0 )"
    )
    contrib = (
        f"({idf}) * cast(tf AS double) * ({k1!r} + 1.0)"
        f" / (cast(tf AS double) + {k1!r} * (1.0 - {b!r} + {b!r}"
        f" * cast(dl AS double) / ({avg_expr})))"
    )
    agg = scored.selectExpr(
        "doc",
        f"cast({ROUND6.format(x=contrib)} AS decimal(27,6)) AS c",
    ).groupBy("doc").agg(
        F.sum("c").alias("score_dec"), F.count(F.lit(1)).alias("n_terms_hit")
    )
    return (
        agg.selectExpr(
            "doc AS doc_id",
            "cast(score_dec AS double) AS score",
            "n_terms_hit",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select(*BM25_COLS)
    )


def bm25_topk_sql(
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror: identical formula, ROUND6+DECIMAL accumulation,
    same (score DESC, doc ASC) tie-break."""
    terms = ", ".join("'{}'".format(str(t).replace("'", "''")) for t in query_terms)
    avg_expr = "CAST(total_len AS DOUBLE) / CAST(n_nonempty AS DOUBLE)"
    idf = (
        "LN( (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5) + 1.0 )"
    )
    contrib = (
        f"({idf}) * CAST(tf AS DOUBLE) * ({k1!r} + 1.0)"
        f" / (CAST(tf AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r}"
        f" * CAST(dl AS DOUBLE) / ({avg_expr})))"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc,
    unnest(list_filter(string_split({text_col}, ' '), t -> t <> '')) AS term
  FROM {table}
),
tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks GROUP BY doc, term),
dl AS (SELECT doc, term, tf, SUM(tf) OVER (PARTITION BY doc) AS dl FROM tf),
corpus AS (SELECT COUNT(*) AS n_docs FROM {table}),
avgdl AS (
  SELECT SUM(dl) AS total_len, COUNT(*) AS n_nonempty
  FROM (SELECT DISTINCT doc, dl FROM dl)
),
hits AS (SELECT * FROM dl WHERE term IN ({terms})),
df_per_term AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
scored AS (
  SELECT doc, CAST({ROUND6.format(x=contrib)} AS DECIMAL(27,6)) AS c
  FROM hits
  JOIN df_per_term USING (term)
  CROSS JOIN corpus CROSS JOIN avgdl
),
agg AS (
  SELECT doc, SUM(c) AS score_dec, COUNT(*) AS n_terms_hit
  FROM scored GROUP BY doc
)
SELECT doc AS doc_id, CAST(score_dec AS DOUBLE) AS score, n_terms_hit
FROM agg
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""
