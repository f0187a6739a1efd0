"""Text analysis operators for LLM training-data pipelines.

Extensions beyond the reference surface (SURVEY.md §7 Phase 5): per-document
token statistics, n-gram language identification, heuristic quality scoring
and document fingerprinting, all built ONLY from pyspark.sql.functions —
JVM-side, whole-stage-codegen'd, no Python in the row path. Every operator
returns scalar columns (never arrays) so results are exactly comparable with
the DuckDB oracle (``oracle_ext.py`` mirrors each expression 1:1).

Scale notes (100 TB)
--------------------
These are all embarrassingly parallel per-row projections over one scan —
no shuffle, no driver involvement, map-side only. The per-row cost is
O(len(text)) string ops; Spark pipelines them inside the parquet scan stage,
so throughput is scan-bound. Column pruning applies (only ``text`` +
passthrough keys are read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions import text as X
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    round6,
)

# Fixed ASCII stopword lists (umlauts/accents would be destroyed by the
# [^a-z0-9] tokenizer, so only ASCII forms are used). Order of LANGS is the
# deterministic tie-break for language prediction.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "auf", "ein"),
    "fr": ("le", "la", "les", "des", "et", "une", "est", "dans", "pour", "que"),
    "es": ("el", "los", "las", "que", "y", "en", "una", "es", "por", "como"),
}
LANGS = tuple(STOPWORDS)

# BPE-ish token estimator: alpha runs, single digits, single symbols.
TOKEN_EST_PATTERN = "[a-z]+|[0-9]|[^a-z0-9 ]"


def _stop_hits(toks: Column, lang: str) -> Column:
    """Multiset count of tokens that are stopwords of ``lang``."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token statistics.

    Columns: id, n_chars, n_tokens, n_distinct_tokens, avg_token_len,
    token_est (BPE-ish regex count), alpha_ratio, digit_ratio.
    """
    toks = X.tokens(F.col(text_col))
    t = docs.withColumn("_toks", toks)
    n_tokens = F.size(F.col("_toks"))
    total_tok_chars = F.length(F.concat_ws("", F.col("_toks")))
    n_chars = F.length(F.col(text_col))
    lowered = F.lower(F.col(text_col))
    return t.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(F.col("_toks"))).alias("n_distinct_tokens"),
        round6(F.try_divide(total_tok_chars, n_tokens)).alias("avg_token_len"),
        F.size(F.regexp_extract_all(lowered, F.lit(TOKEN_EST_PATTERN), 0)).alias(
            "token_est"
        ),
        round6(
            F.try_divide(
                F.size(F.regexp_extract_all(lowered, F.lit("[a-z]"), 0)), n_chars
            )
        ).alias("alpha_ratio"),
        round6(
            F.try_divide(
                F.size(F.regexp_extract_all(lowered, F.lit("[0-9]"), 0)), n_chars
            )
        ).alias("digit_ratio"),
    )


def lang_pred_column(toks: Column) -> Column:
    """``lang_pred``: argmax stopword hits with deterministic tie-break
    (LANGS order); 'und' when no stopword hits at all."""
    hits = {lang: _stop_hits(toks, lang) for lang in LANGS}
    # argmax with fixed precedence: pick the first lang whose count equals
    # the row max and max > 0.
    mx = F.greatest(*hits.values())
    pred = F.lit("und")
    for lang in reversed(LANGS):
        pred = F.when((mx > 0) & (hits[lang] == mx), F.lit(lang)).otherwise(pred)
    return pred


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language identification.

    Emits per-language hit counts and ``lang_pred`` (lang_pred_column).
    A fixed threshold-free heuristic — the point is the *plumbing*
    (real lang-ID swaps in a bigger table or model, same shape).
    """
    t = docs.withColumn("_toks", X.tokens(F.col(text_col)))
    hits = {lang: _stop_hits(F.col("_toks"), lang) for lang in LANGS}
    cols = [F.col(id_col)]
    cols += [hits[lang].alias(f"hits_{lang}") for lang in LANGS]
    cols.append(lang_pred_column(F.col("_toks")).alias("lang_pred"))
    return t.select(*cols)


def quality_columns(text: Column, toks: Column) -> dict[str, Column]:
    """The quality sub-scores, un-rounded, as named expressions.

    quality = 0.4 * min(n_chars/500, 1)            (length)
            + 0.4 * min(5 * stop_ratio, 1)         (stopword density, en)
            + 0.2 * (1 - digit_ratio)              (numeric noise)
    computed in exact integer counts first, one fixed double expression at
    the end (same shape as the oracle -> bit-comparable after ROUND 6).
    """
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks)
    stop_hits = _stop_hits(toks, "en")
    digits = F.size(F.regexp_extract_all(F.lower(text), F.lit("[0-9]"), 0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    stop_ratio = F.coalesce(
        F.try_divide(stop_hits.cast("double"), n_tokens.cast("double")), F.lit(0.0)
    )
    stop_score = F.least(F.lit(5.0) * stop_ratio, F.lit(1.0))
    digit_ratio = F.coalesce(
        F.try_divide(digits.cast("double"), n_chars), F.lit(0.0)
    )
    quality = (
        F.lit(0.4) * len_score + F.lit(0.4) * stop_score + F.lit(0.2) * (F.lit(1.0) - digit_ratio)
    )
    return {
        "len_score": len_score,
        "stop_score": stop_score,
        "digit_ratio": digit_ratio,
        "quality": quality,
    }


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality in [0, 1] (see quality_columns)."""
    t = docs.withColumn("_toks", X.tokens(F.col(text_col)))
    cols = quality_columns(F.col(text_col), F.col("_toks"))
    return t.select(
        F.col(id_col),
        *[round6(c).alias(name) for name, c in cols.items()],
    )


def fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """Per-document content fingerprints: exact + shingle-min + SimHash.

    - content_md5: md5 of the normalized text (exact-dup key)
    - min_shingle_hash: MIN seeded-md5 over the word-3-gram shingle set
      (a 1-permutation MinHash — equal fingerprints ~ high Jaccard)
    - simhash: 32-bit Charikar SimHash of the token multiset (near-dup by
      Hamming distance)
    """
    t = docs.withColumn("_toks", X.tokens(F.col(text_col)))
    t = t.withColumn("_sh", X.word_shingles(F.col("_toks"), shingle_words))
    t = t.withColumn("_th", X.token_hashes32(F.col("_toks")))
    return t.select(
        F.col(id_col),
        X.md5_hex(X.normalized(F.col(text_col))).alias("content_md5"),
        F.when(
            F.size(F.col("_sh")) > 0,
            F.array_min(F.transform(F.col("_sh"), lambda s: X.seeded_hash(s, 0))),
        ).alias("min_shingle_hash"),
        X.simhash32_from_hashes(F.col("_th")).alias("simhash"),
    )


LANG_CONFUSION_COLS = ["label", "predicted", "n", "frac_of_label"]


def lang_confusion(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against a labeled
    column: (label, predicted, n, frac_of_label) — the evaluation loop a
    real pipeline runs when swapping lang-ID models.

    Plan shape: language_id's map-side projection + ONE
    groupBy(label, predicted) shuffle over |langs|^2 keys; per-label
    totals ride a window over the tiny matrix. ROUND6 fractions.
    """
    pred = language_id(docs, text_col, id_col).select(
        F.col(id_col), F.col("lang_pred")
    )
    labeled = docs.select(F.col(id_col), F.col(label_col).alias("label"))
    pairs = labeled.join(pred, id_col).groupBy(
        "label", F.col("lang_pred").alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as _W

    tot = _W.partitionBy("label")
    frac = "cast(n AS double) / cast(n_label AS double)"
    return (
        pairs.withColumn("n_label", F.sum("n").over(tot))
        .selectExpr(
            "label", "predicted", "n",
            f"cast({ROUND6.format(x=frac)} AS double) AS frac_of_label",
        )
        .select(*LANG_CONFUSION_COLS)
    )
