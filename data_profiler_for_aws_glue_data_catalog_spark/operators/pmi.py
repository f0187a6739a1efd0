"""Pointwise mutual information over adjacent word pairs (collocations).

Classic collocation mining (Church & Hanks 1990, public): for adjacent
token bigrams, ``pmi(x,y) = ln( p(x,y) / (p(x)p(y)) )`` with
probabilities estimated from corpus counts. High-PMI pairs are phrases
("new york"); training-data pipelines use them for tokenizer merges and
boilerplate detection.

Plan shape:
1. tokens per doc map-side (split + filter);
2. bigrams via ``arrays_zip(tokens, slice(tokens, 2..))`` — map-side
   pair construction, no self-join;
3. ONE groupBy(bigram) shuffle for pair counts; unigram counts reuse
   the same exploded tokens in a parallel branch (its own shuffle);
4. two equi-joins attach p(x), p(y) to pairs — both sides are
   |vocab|-sized aggregates, and the min-count filter prunes the pair
   table BEFORE the joins.

Totals ride broadcast 1-row cross joins, never a recount.

Determinism: counts are exact; PMI = one fixed ln() expression ROUND6'd
(libm-ulp policy of frequency_metrics applies).

Scale notes (100 TB): pair cardinality is the scale driver — the
``min_count`` filter applies BEFORE the probability joins (standard
practice: rare pairs have garbage PMI anyway); all joins key on tokens
with AQE skew handling; nothing is ever collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6

PMI_COLS = ["word_x", "word_y", "n_pair", "n_x", "n_y", "pmi"]


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit("")).alias(
            "toks"
        ),
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(word_x, word_y, n_pair, n_x, n_y, pmi) for adjacent bigrams with
    n_pair >= min_count."""
    toks = _tokens(docs, text_col, id_col)
    unigrams = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_tokens = unigrams.agg(F.sum("n_w").alias("total_w"))
    pairs = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))).alias("x"),
                    F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))).alias("y"),
                )
            ).alias("b")
        )
        .select(F.col("b.x").alias("word_x"), F.col("b.y").alias("word_y"))
        .groupBy("word_x", "word_y")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    n_pairs = pairs.agg(F.sum("n_pair").alias("total_p"))
    ux = unigrams.select(F.col("w").alias("word_x"), F.col("n_w").alias("n_x"))
    uy = unigrams.select(F.col("w").alias("word_y"), F.col("n_w").alias("n_y"))
    joined = (
        pairs.join(ux, "word_x")
        .join(uy, "word_y")
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tokens))
    )
    pmi = (
        "ln( (cast(n_pair AS double) / cast(total_p AS double)) / "
        "( (cast(n_x AS double) / cast(total_w AS double)) * "
        "(cast(n_y AS double) / cast(total_w AS double)) ) )"
    )
    return joined.selectExpr(
        "word_x", "word_y", "n_pair", "n_x", "n_y",
        f"cast({ROUND6.format(x=pmi)} AS double) AS pmi",
    ).select(*PMI_COLS)


def bigram_pmi_sql(
    table: str,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror: same tokenization, adjacency by list index zip."""
    pmi = (
        "ln( (CAST(n_pair AS DOUBLE) / CAST(total_p AS DOUBLE)) / "
        "( (CAST(n_x AS DOUBLE) / CAST(total_w AS DOUBLE)) * "
        "(CAST(n_y AS DOUBLE) / CAST(total_w AS DOUBLE)) ) )"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
    list_filter(string_split({text_col}, ' '), t -> t <> '') AS tk
  FROM {table}
),
unigrams AS (
  SELECT w, COUNT(*) AS n_w
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
),
n_tokens AS (SELECT SUM(n_w) AS total_w FROM unigrams),
bigrams AS (
  SELECT tk[i] AS word_x, tk[i+1] AS word_y
  FROM toks, unnest(range(1, len(tk))) AS r(i)
),
pairs AS (
  SELECT word_x, word_y, COUNT(*) AS n_pair
  FROM bigrams GROUP BY word_x, word_y
  HAVING COUNT(*) >= {min_count}
),
n_pairs AS (SELECT SUM(n_pair) AS total_p FROM pairs)
SELECT word_x, word_y, n_pair, ux.n_w AS n_x, uy.n_w AS n_y,
  CAST({ROUND6.format(x=pmi.replace("n_x", "ux.n_w").replace("n_y", "uy.n_w"))} AS DOUBLE) AS pmi
FROM pairs
JOIN unigrams ux ON pairs.word_x = ux.w
JOIN unigrams uy ON pairs.word_y = uy.w
CROSS JOIN n_pairs CROSS JOIN n_tokens
"""
