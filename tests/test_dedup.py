from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.operators import dedup as D


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_exact_duplicates_normalized(spark):
    df = _docs(spark, ["Hello, World!", "hello   world", "other doc here"])
    rows = {r["doc_id"]: r for r in D.exact_duplicates(df).collect()}
    # punctuation/case/whitespace-normalized dups share a group
    assert rows[0]["content_md5"] == rows[1]["content_md5"]
    assert rows[0]["group_size"] == 2
    assert rows[0]["is_keep"] and not rows[1]["is_keep"]
    assert rows[2]["group_size"] == 1 and rows[2]["is_keep"]


def test_jaccard_known_value(spark):
    # doc0: shingles {abc, bcd}; doc1: {abc, bce}; jaccard = 1/3
    df = _docs(spark, ["a b c d", "a b c e", "x y z w"])
    pairs = D.jaccard_near_duplicates(df, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["doc_a"], p["doc_b"]) == (0, 1)
    assert abs(p["jaccard"] - 1 / 3) < 1e-6
    # threshold above the true jaccard filters the pair out
    assert D.jaccard_near_duplicates(df, n=3, threshold=0.4).count() == 0


def test_jaccard_hot_shingle_cap(spark):
    # every doc shares the shingle "common token here"; distinctive pairs
    # (0,1) also share "rare pair shingle". With the hot shingle dropped
    # (df cap 2 < 4 docs), the (0,1) score keeps the ORIGINAL denominators.
    texts = [
        "common token here rare pair shingle",
        "common token here rare pair shingle",
        "common token here alpha beta gamma",
        "common token here delta eps zeta",
    ]
    df = _docs(spark, texts)
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_near_duplicates(
            df, n=3, threshold=0.1, max_shingle_df=2
        ).collect()
    }
    # doc0/doc1 are identical: 4 shingles each, hot ones dropped from the
    # index but denominators stay 4 -> co=3 (of 4 shingles, 1 is hot... all
    # four 3-gram shingles of the identical docs: "common token here",
    # "token here rare", "here rare pair", "rare pair shingle"; only
    # "common token here" is shared by all 4 docs -> dropped) => co=3,
    # j = 3 / (4 + 4 - 3) = 0.6
    assert abs(capped[(0, 1)] - 0.6) < 1e-6
    # pairs connected ONLY through the hot shingle disappear
    assert (2, 3) not in capped
    # uncapped finds (2,3) with j = 1/7
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_near_duplicates(
            df, n=3, threshold=0.1, max_shingle_df=None
        ).collect()
    }
    assert abs(full[(2, 3)] - 1 / 7) < 1e-6
    assert abs(full[(0, 1)] - 1.0) < 1e-6


def test_hot_shingles_observability(spark):
    texts = ["same text here"] * 5 + ["another doc body"]
    inv = D._shingle_sets(_docs(spark, texts), "text", "doc_id", 3).select(
        "id", "sz", F.explode("sh").alias("shingle")
    )
    hot = D.hot_shingles(inv, 3).collect()
    assert len(hot) == 1 and hot[0]["df"] == 5


def test_shingle_sets_match_oracle_across_lengths(spark):
    """Hashed shingle sets equal the DuckDB mirror on documents of 0, n-1,
    n and 2,000 tokens; the first two have no shingle and are dropped."""
    import duckdb

    from data_profiler_for_aws_glue_data_catalog_spark.oracle_ext import (
        hashed_shingles_sql,
        toks_sql,
    )

    n = 3
    words = [f"W{i % 37}, x{i % 11}" for i in range(1000)]  # repeats grams
    texts = ["  ...  ", "Alpha beta!", "alpha, BETA gamma", " ".join(words)]
    got = {
        r["id"]: (sorted(r["sh"]), r["sz"])
        for r in D._shingle_sets(_docs(spark, texts), "text", "doc_id", n).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", list(enumerate(texts)))
    want = {
        i: (sorted(sh), len(sh))
        for i, sh in con.execute(
            f"SELECT doc_id, {hashed_shingles_sql(toks_sql('text'), n)} FROM docs"
        ).fetchall()
        if sh
    }
    con.close()
    assert set(want) == {2, 3}
    assert got == want
    assert got[2][1] == 1 and got[3][1] < 1998  # distinct grams only


def test_minhash_lsh_finds_identical(spark):
    df = _docs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog today",
            "the quick brown fox jumps over the lazy dog today",
            "completely different content about spark engines instead",
        ],
    )
    pairs = D.minhash_lsh_near_duplicates(df).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(0, 1)]
    assert pairs[0]["jaccard"] == 1.0


def test_simhash_pairs_match_bruteforce(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",   # near-dup of 0
        "alpha beta gamma delta epsilon zeta",  # identical to 0
        "totally unrelated words in this document body",
    ]
    df = _docs(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_duplicates(df, max_hamming=3).collect()
    }
    # brute force over fingerprints (tiny n)
    from data_profiler_for_aws_glue_data_catalog_spark.functions import text as X

    fp = D.simhash_fingerprints(df, "text", "doc_id")
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r["da"], r["db"]): r["h"]
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("da"),
            F.col("b.id").alias("db"),
            X.hamming32(F.col("a.simhash"), F.col("b.simhash")).alias("h"),
        )
        .collect()
        if r["h"] <= 3
    }
    assert got == brute
    assert got[(0, 2)] == 0  # identical docs


def test_embedding_dedup_ivf_subset_of_exact(spark, embeddings):
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in D.embedding_near_duplicates(embeddings, n_cells=None).collect()
    }
    ivf = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in D.embedding_near_duplicates(embeddings, n_cells=8).collect()
    }
    # IVF reports a subset of the true pairs, with identical cosines
    assert set(ivf) <= set(exact)
    for k, v in ivf.items():
        assert v == exact[k]
    assert len(ivf) > 0


def test_embedding_dedup_default_plan_is_bucketed(spark, embeddings):
    plan = (
        D.embedding_near_duplicates(embeddings)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    # the exact kernel IS the nested-loop join (the verify path)
    brute = (
        D.embedding_near_duplicates(embeddings, n_cells=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in brute


def test_dedup_eval_confusion_identity(documents):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import dedup_eval

    r = dedup_eval(documents).collect()[0]
    assert r["tp"] + r["fp"] == r["n_pred"]
    assert r["tp"] + r["fn"] == r["n_truth"]
    if r["n_pred"]:
        assert 0.0 <= r["precision"] <= 1.0
    if r["n_truth"]:
        assert 0.0 <= r["recall"] <= 1.0


def test_incremental_lsh_equals_filtered_full_run(documents):
    from pyspark.sql import functions as F

    from data_profiler_for_aws_glue_data_catalog_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_near_duplicates,
    )

    is_new = F.col("doc_id") % 4 == 0
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_incremental(documents, is_new).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_near_duplicates(documents).collect()
        if r["doc_a"] % 4 == 0 or r["doc_b"] % 4 == 0
    }
    assert inc == full
