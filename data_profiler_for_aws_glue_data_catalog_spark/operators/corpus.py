"""Composed corpus-cleaning pipeline: filter -> dedup in one lazy plan.

The canonical preprocessing chain of a training-data pipeline, expressed
as ONE DataFrame plan so Catalyst fuses it end-to-end:

1. per-row features (map-side, fused into the scan): quality score
   (text_analysis.quality_columns), language prediction
   (text_analysis.lang_pred_column), normalized-content hash;
2. quality + language FILTERS applied before anything shuffles — the
   predicates prune the corpus inside the scan stage, so the dedup
   shuffle only ever moves surviving rows (filter-then-dedup is both the
   cheaper and the semantically standard order: a high-quality duplicate
   of a rejected low-quality doc must survive);
3. exact dedup among survivors: one window over the content hash, keeper
   = smallest id (same semantics as operators/dedup.exact_duplicates).

Total: one scan + one shuffle (the dedup hash partition), regardless of
corpus size. The expression builders are SHARED with the standalone
text_analysis operators, so this composition cannot drift from the
oracle-checked semantics of its parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions import text as X
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import round6
from data_profiler_for_aws_glue_data_catalog_spark.operators.text_analysis import (
    lang_pred_column,
    quality_columns,
)


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The cleaned corpus: (id, lang_pred, quality, content_md5) for every
    document that (a) scores >= min_quality, (b) predicts one of
    ``langs``, and (c) is the smallest-id exact duplicate among the
    surviving rows of its normalized content."""
    toks = X.tokens(F.col(text_col))
    t = docs.select(
        F.col(id_col).alias("id"),
        lang_pred_column(toks).alias("lang_pred"),
        round6(quality_columns(F.col(text_col), toks)["quality"]).alias(
            "quality"
        ),
        X.md5_hex(X.normalized(F.col(text_col))).alias("content_md5"),
    )
    survivors = t.where(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    )
    # row_number, not id == min(id): the min-keeper keeps EVERY physical
    # copy of the minimal id, so duplicated rows (re-ingests, the skew
    # axis' hot-key amplification) would all survive "exact dedup".
    # One row per surviving content, smallest id — copies beyond the
    # first are identical, so the pick is value-deterministic.
    w = Window.partitionBy("content_md5").orderBy("id")
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


CURRICULUM_COLS = ["doc_id", "quality", "band", "shuffle_key"]


def curriculum_assign(
    docs: DataFrame,
    n_bands: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Curriculum/training-order assignment: each document gets its
    quality BAND (equal-population deciles of the engine's quality
    score, exact quantile edges) and a deterministic SHUFFLE KEY
    (seeded md5 uniform) — a curriculum dataloader consumes bands in
    order, shuffled within band by the key.

    Everything after the one-row edge collection is MAP-SIDE: no global
    sort ever happens — ordering materializes when the writer does
    ``repartition(band).sortWithinPartitions(shuffle_key)``, which is
    a per-band local sort, not a cluster-wide one. Reproducible:
    (id, seed) fixes the shuffle key, data fixes the band edges.
    """
    from data_profiler_for_aws_glue_data_catalog_spark.operators.text_analysis import quality_score

    q = quality_score(docs, text_col, id_col).select(
        F.col(id_col).alias("doc_id"), F.col("quality")
    )
    probs = [i / n_bands for i in range(1, n_bands)]
    edges = q.agg(
        F.expr(
            f"percentile(quality, array({', '.join(repr(p) for p in probs)}))"
        ).alias("e")
    ).first()["e"]
    band = F.lit(0)
    for e in edges:
        band = band + (F.col("quality") > F.lit(float(e))).cast("int")
    h = f"md5(concat('{seed}|', cast(doc_id AS string)))"
    skey = f"cast(conv(substring({h}, 1, 8), 16, 10) AS bigint)"
    return q.select(
        "doc_id",
        "quality",
        band.alias("band"),
        F.expr(skey).alias("shuffle_key"),
    )


def curriculum_assign_sql(
    table: str = "documents",
    n_bands: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    """DuckDB mirror of :func:`curriculum_assign`.

    Band edges use :func:`oracle.spark_percentile_edges_select`, NOT
    ``quantile_cont``: the edge is a raw ``>`` boundary, and DuckDB's
    interpolation rounds 1 ulp below Spark's when both bracketing order
    statistics are the same repeated value (sf0.1 quality p=0.8 edge —
    5 docs sat exactly on it and flipped band)."""
    from data_profiler_for_aws_glue_data_catalog_spark.oracle import spark_percentile_edges_select
    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import quality_score_sql

    probs = [i / n_bands for i in range(1, n_bands)]
    band = " + ".join(
        f"(CASE WHEN quality > e[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(n_bands - 1)
    )
    h = f"md5('{seed}|' || CAST(doc_id AS VARCHAR))"
    hexs = "0123456789abcdef"
    terms = " + ".join(
        f"(strpos('{hexs}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
WITH q AS (
  SELECT {id_col} AS doc_id, quality
  FROM ({quality_score_sql(table, text_col, id_col)})
),
edges AS ({spark_percentile_edges_select("q", "quality", probs)})
SELECT doc_id, quality, ({band}) AS band,
  CAST({terms} AS BIGINT) AS shuffle_key
FROM q CROSS JOIN edges
"""
