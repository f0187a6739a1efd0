"""Embedding pooling: aggregate many vectors per key into one.

The reduce step of the chunk->embed->pool pipeline (document embedding
from chunk embeddings, user embedding from event embeddings): per key,
the element-wise MEAN vector plus supporting counts. Masked variants
(skip NULL/wrong-dimension vectors) keep one bad chunk from poisoning a
document.

Plan shape: vectors explode to (key, dim, value) — map-side, dimension-
bounded fan-out — one groupBy (key, dim) with decimal-exact means, then
the vector reassembles via a (key)-grouped sorted collect. Two
shuffles; state per key is O(dim). The explode formulation beats
``F.aggregate`` over ``collect_list`` because it never materializes a
key's whole vector set in one aggregation buffer — hot keys (a viral
doc's million chunks) stream through partial aggregation instead.

Determinism: decimal(27,6)-accumulated per-dim sums, ROUND6 means,
sort_array reassembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    SUM_DECIMAL,
)

POOL_COLS = ["key", "n_vectors", "dim", "pooled"]


def mean_pool(
    df: DataFrame,
    key_col: str,
    vec_col: str = "embedding",
    expected_dim: int | None = None,
) -> DataFrame:
    """(key, n_vectors, dim, pooled): element-wise mean per key.

    Vectors that are NULL or (when ``expected_dim`` is set) of the wrong
    length are excluded from the pool; ``n_vectors`` counts the pooled
    ones. Keys with no valid vector are absent.
    """
    base = df.where(
        F.col(key_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    if expected_dim is not None:
        base = base.where(F.size(F.col(vec_col)) == expected_dim)
    from data_profiler_for_aws_glue_data_catalog_spark.operators.vector_stats import fin_element

    exploded = base.select(
        F.col(key_col).cast("string").alias("key"),
        F.posexplode(F.col(vec_col)).alias("dim_i", "x"),
    ).selectExpr(
        "key", "dim_i",
        # finite-elements policy (vector_stats.fin_element, r8 specials
        # axis): non-finite elements are missing for their dimension
        fin_element("cast(x AS double)") + " AS x",
    )
    # float inputs round-trip through ROUND6'd doubles before the decimal
    # cast (vector_stats recipe): a 6-dp double converts to DECIMAL(27,6)
    # identically in both engines, where a raw float->decimal cast can
    # differ in the half-up/half-even last digit.
    xr = ROUND6.format(x="x")
    per_dim = exploded.groupBy("key", "dim_i").agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr(
            "cast(" + ROUND6.format(
                x=f"cast(sum(try_cast({xr} AS {SUM_DECIMAL})) AS double) / count(x)"
            ) + " AS double)"
        ).alias("_m"),
    )
    return (
        per_dim.groupBy("key")
        .agg(
            F.max("_n").alias("n_vectors"),
            F.count(F.lit(1)).alias("dim"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim_i"), F.col("_m")))
                ),
                lambda s: s["_m"],
            ).alias("pooled"),
        )
        .select(*POOL_COLS)
    )
