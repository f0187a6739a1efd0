"""Deduplication operators for LLM training-data pipelines.

Five dedup families (SURVEY.md §7 Phase 5 / BASELINE.json north star), all
expressed with built-in DataFrame ops — no UDFs, no driver loops — and all
with exact DuckDB oracles (oracle_ext.py):

  exact_duplicates            hash-groupBy on normalized-content md5
  jaccard_near_duplicates     exact n-gram Jaccard via shingle inverted index
  minhash_lsh_near_duplicates MinHash signatures -> LSH band join -> verify
  simhash_near_duplicates     32-bit SimHash -> 4x8-bit band join -> Hamming
  embedding_near_duplicates   cosine >= t, IVF-bucketed candidates by default

Scale notes (100 TB)
--------------------
- exact: one shuffle on a 128-bit content hash; group sizes are tiny (true
  dup groups), no skew concern. Window-over-hash, no join-back.
- jaccard inverted index: the shingle join is THE canonical near-dup join;
  its failure mode at scale is hot shingles (df in the millions -> a
  quadratic bucket). ``max_shingle_df`` (DEFAULT ON, 1000) drops postings of
  shingles whose document frequency exceeds the cap BEFORE the self-join —
  standard practice: a shingle shared by everyone carries no discriminative
  signal. The cap is applied with a broadcast anti-join against the (tiny)
  hot-shingle list, not a window: the window would shuffle + sort EVERY
  posting, the aggregation reduces map-side first. Jaccard denominators keep
  the ORIGINAL set sizes, so capped scores are a documented lower bound of
  the true Jaccard (exact whenever no shingle of the pair is hot).
  AQE skew join handles the residual tail.
- minhash-lsh: candidate generation touches only band-key collisions
  (b buckets/doc), so the self-join is linear-ish in true-candidate count,
  not O(n^2). Signatures cost ONE md5 per shingle (affine hash family on
  top, functions/text.py) via explode + codegen'd min-aggregates; partial
  aggregation means the signature shuffle carries k*8 bytes per DOC.
  Verification re-joins the (id -> shingle set) relation on candidate ids.
- simhash: fingerprints are 8 bytes/doc; the 4-band pigeonhole guarantees
  NO false negatives for Hamming distance <= 3. Collision buckets are
  bounded by vocabulary similarity; verify step is exact Hamming.
- embedding: candidates come from IVF cells (similarity.assign_cells —
  map-side argmax over broadcast centroids), the exact cosine kernel runs
  within cells only. ``n_cells=None`` selects the brute-force O(n^2) kernel
  — the verify/test path, never the registered default.
- every family funnels its raw text through plans.partitioning.
  ensure_parallelism first: a single-row-group table would otherwise run
  the expensive shingle/hash expressions on one core (no-op at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions import text as X
from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import (
    ROUND6,
    round6,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.partitioning import (
    ensure_parallelism,
    materialize,
    materialize_wide,
)


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc exact-dup verdict on normalized content.

    Columns: id, content_md5, group_size, is_keep (keeper = min id of the
    group). One shuffle (window over the hash); no join.
    """
    h = X.md5_hex(X.normalized(F.col(text_col)))
    w = Window.partitionBy("content_md5")
    return (
        docs.select(F.col(id_col), h.alias("content_md5"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_keep", F.col(id_col) == F.min(id_col).over(w))
    )


def _shingle_sets(docs: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh: array<bigint>, sz: int) for docs with >= 1 shingle.

    Shingles are 60-bit hashes (functions.text.hashed_word_shingles): the
    gram strings never leave the map expression, so everything downstream
    (cache, explode, joins, groupBys) moves fixed 8-byte keys.

    Projects to (id, text) before the parallelism guard so the one-time
    repartition (if any) moves only those two columns.

    Tokenizes ONCE per document: ``tokens(text)`` is its own projected
    column and the shingle kernel reads that column (its n shifted slices
    and its size), never the tokenizer expression. Passing the expression
    in would re-run lower/regexp_replace/split/filter once per reference
    inside the interpreted kernel — one tokenization per gram, quadratic
    in document length. The two projections stay separate in the optimized
    plan because the token column is referenced several times and is not
    cheap to inline.

    The result is persisted AND eagerly populated: every dedup operator
    built on shingle sets consumes them from MULTIPLE plan branches
    (hot-shingle cap, both self-join sides, the verify join), and Spark
    re-executes the whole tokenize/shingle subtree per branch. Measured at
    sf0.1 this recompute is the entire cost of the operator (5-6x the
    one-pass compute). Persisting the (tiny relative to the corpus)
    shingle relation is the standard multi-consumer pattern; at 100 TB it
    spills to local disk like any shuffle would.

    ORDERING CONSTRAINT: the empty-set filter is applied AFTER the persist
    boundary, on the cached relation. Filtering before the cache looks
    free but pushes ``size(<shingle expr>)`` below the projection, and the
    interpreted (non-codegen) shingle expression then gets re-evaluated
    per reference — measured 4x the whole materialize cost at sf0.1.
    """
    narrow = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    toks = narrow.select(
        F.col(id_col).alias("id"), X.tokens(F.col(text_col)).alias("toks")
    )
    sh = X.hashed_word_shingles(F.col("toks"), n)
    raw = materialize(toks.select("id", sh.alias("sh")))
    return raw.withColumn("sz", F.size("sh")).where(F.col("sz") > 0)


def _pair_jaccard(co: Column, sa: Column, sb: Column) -> Column:
    return round6(
        F.try_divide(
            co.cast("double"), (sa + sb - co).cast("double")
        )
    )


def hot_shingles(inv: DataFrame, max_shingle_df: int) -> DataFrame:
    """(shingle, df) for shingles above the document-frequency cap.

    Tiny by construction at any scale (only the pathological head of the
    df distribution); broadcast-anti-joined against the inverted index.
    Expose it to callers for observability — the dropped-shingle count is
    ``hot_shingles(...).count()``.
    """
    return (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_shingle_df)
    )


def jaccard_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    shingle_base: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs via shingle inverted index.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold
    (ROUND6'd). Plan: explode shingle sets -> drop hot-shingle postings
    (broadcast anti-join, see module docstring) -> self-equi-join on shingle
    -> groupBy pair counting co-occurring shingles -> filter on the Jaccard
    formula |A∩B| / (|A| + |B| - |A∩B|). Set semantics (shingles deduped
    per doc). Denominators use the original set sizes even when postings
    were capped.

    ``shingle_base``: a precomputed ``_shingle_sets(docs, ...)`` relation —
    compositions running several shingle consumers over the SAME corpus
    (dedup_eval) pass it so the tokenize/shingle/checkpoint pass runs once
    instead of once per consumer; values are identical either way.
    """
    base = (
        shingle_base
        if shingle_base is not None
        else _shingle_sets(docs, text_col, id_col, n)
    )
    inv = base.select("id", "sz", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        hot = hot_shingles(inv, max_shingle_df).select("shingle")
        inv = inv.join(F.broadcast(hot), on="shingle", how="left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    co = F.count(F.lit(1)).alias("co")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .agg(co)
    )
    j = _pair_jaccard(F.col("co"), F.col("sa"), F.col("sb"))
    return (
        pairs.select("doc_a", "doc_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 12,
    n_bands: int = 6,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    shingle_base: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact Jaccard.

    Candidate pairs collide on >= 1 of ``n_bands`` signature bands
    (P[candidate] = 1 - (1 - j^r)^b); each candidate is then verified
    against the exact shingle-set Jaccard and kept when >= threshold.
    Output: (doc_a, doc_b, jaccard), doc_a < doc_b. A deterministic
    LSH: the hash family is a fixed affine family over one md5-derived
    32-bit hash per shingle (functions/text.py MINHASH_A/B), so the
    candidate set (and thus the result) is engine-reproducible, not a
    sampling artifact.

    Signatures are computed by EXPLODING the cached shingle sets and taking
    ``n_hashes`` codegen'd min-aggregates (text.minhash_agg_exprs) — one
    whole-stage-codegen pass over the postings, with map-side partial
    aggregation collapsing to one signature row per doc before the (tiny)
    groupBy shuffle. The array-lambda alternative evaluates interpreted
    per element and measured ~10x slower at sf0.1.
    """
    assert n_hashes == n_bands * rows_per_band
    # the persisted shingle-set frame feeds the signature pass AND the
    # verify join (twice); everything reads the cache, not the corpus.
    # shingle_base: see jaccard_near_duplicates — compositions share one.
    base = (
        shingle_base
        if shingle_base is not None
        else _shingle_sets(docs, text_col, id_col, n)
    )
    keyed = _lsh_band_keys(base, n_hashes, n_bands, rows_per_band)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    return _verified_pairs(cand, base, threshold)


def _lsh_band_keys(
    base: DataFrame, n_hashes: int, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(id, bk): one row per document and LSH band key of its MinHash
    signature. The signature pass over the shingle base is materialized
    once; both self-join sides read it."""
    # 32-bit per-shingle hash for the affine MinHash family = the low 32
    # bits of the 60-bit shingle hash (independent md5 bits) — no extra md5.
    h32 = F.pmod(F.col("h"), F.lit(X.M32).cast("bigint"))
    sig = materialize(
        base.select("id", F.explode("sh").alias("h"))
        .groupBy("id")
        .agg(*X.minhash_agg_exprs(h32, n_hashes))
        .select(
            "id", F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("sig")
        )
    )
    return sig.select(
        "id", F.explode(X.band_keys(F.col("sig"), n_bands, rows_per_band)).alias("bk")
    )


def _verified_pairs(cand: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs kept when their exact shingle-set
    Jaccard (read from the shingle base) is >= threshold."""
    sets = base.select("id", "sh", "sz")
    verified = (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            _pair_jaccard(
                F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))),
                F.col("sa.sz"),
                F.col("sb.sz"),
            ).alias("jaccard"),
        )
    )
    return verified.where(F.col("jaccard") >= threshold)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) 32-bit fingerprints of the token multiset (lazy;
    join-based consumers materialize it themselves)."""
    narrow = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    t = narrow.withColumn("_th", X.token_hashes32(X.tokens(F.col(text_col))))
    return t.select(
        F.col(id_col).alias("id"),
        X.simhash32_from_hashes(F.col("_th")).alias("simhash"),
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming <= max_hamming).

    Banding: the 32-bit fingerprint splits into 4 bytes; pairs within
    Hamming distance <= 3 MUST agree on >= 1 byte (pigeonhole), so a 4-way
    band equi-join finds all of them — no O(n^2) compare. Exact Hamming
    verification runs only on band collisions. max_hamming must stay < 4
    for the completeness guarantee; use more/wider bands for looser radii.
    """
    assert max_hamming < 4, "4-band pigeonhole only covers hamming <= 3"
    fp = materialize(simhash_fingerprints(docs, text_col, id_col))
    banded = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        (F.shiftright(F.col("simhash"), 8 * i) % F.lit(256)).cast(
                            "string"
                        ),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a", "doc_b", X.hamming32(F.col("ha"), F.col("hb")).alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def _as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product: left fold in index order (F.aggregate),
    bit-identical to the oracle's list_reduce mirror."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds _v (array<double>) and _norm columns; drops zero vectors."""
    out = df.withColumn("_v", _as_double_vec(F.col(vec_col)))
    out = out.withColumn("_norm", F.sqrt(dot(F.col("_v"), F.col("_v"))))
    return out.where(F.col("_norm") > 0)


def entity_normed(
    embs: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """(id, _v, _norm) with exactly ONE row per id.

    The similarity/clustering family treats ``id`` as an ENTITY key: a
    top-k neighbor list or a centroid seed set with one entity repeated
    is meaningless, and physical duplicate rows (re-ingests, hot-key
    amplification — the skew fuzz axis) must not change results.
    Duplicate-id rows collapse to the lexicographically smallest
    (_v, _norm) representative via min(struct(...)) — value-based, so
    both engines pick the identical row (oracle mirror:
    oracle_ext._normed_vectors_sql).  The groupBy's partial (map-side)
    aggregation collapses a hot duplicated id before the exchange, so
    the dedup itself is skew-proof; on already-unique ids it is one
    pass-through shuffle of the narrow (id, vector) projection.
    """
    d = with_norm(embs, vec_col).select(
        F.col(id_col).alias("id"), "_v", "_norm"
    )
    return (
        d.groupBy("id")
        .agg(
            F.min(
                F.struct(F.col("_v").alias("v"), F.col("_norm").alias("n"))
            ).alias("_m")
        )
        .select("id", F.col("_m.v").alias("_v"), F.col("_m.n").alias("_norm"))
    )


def _pair_cosine(va: Column, na: Column, vb: Column, nb: Column) -> Column:
    return round6(dot(va, vb) / (na * nb))


def embedding_near_duplicates(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_cells: int | None = 16,
) -> DataFrame:
    """Cosine near-dup pairs: (vec_a, vec_b, cosine >= threshold), a < b.

    Default path (``n_cells`` set): IVF-bucketed candidates — every vector
    is assigned to its nearest centroid map-side (similarity.assign_cells,
    broadcast literal centroids, no shuffle), then the exact cosine kernel
    runs as a self-equi-join WITHIN cells only. Pairs whose members land in
    different cells are not reported — the standard IVF recall tradeoff,
    deterministic here (centroids are the ``n_cells`` smallest-id vectors,
    mirrored exactly by the oracle). Scale ``n_cells`` with the corpus so
    cells stay O(sqrt(N)); residual cell skew is AQE's skew-join case.

    ``n_cells=None``: brute-force all-pairs kernel (BroadcastNestedLoopJoin,
    O(n^2)) — the verify/test kernel only, never the registered default.
    """
    from data_profiler_for_aws_glue_data_catalog_spark.operators.similarity import (
        assign_cells,
        collect_centroids,
    )

    # both self-join sides + the centroid collect share it; _wide keeps
    # the downstream pair-cosine stages cluster-width (AQE coalesces the
    # small dedup agg to one partition otherwise). No ensure_parallelism:
    # the dedup's own exchange redistributes (a pre-repartition would
    # double-shuffle).
    e = materialize_wide(
        entity_normed(embs.select(id_col, vec_col), vec_col, id_col)
    )
    cos = _pair_cosine(
        F.col("a._v"), F.col("a._norm"), F.col("b._v"), F.col("b._norm")
    )
    if n_cells is None:
        a, b = e.alias("a"), e.alias("b")
        joined = a.join(b, F.col("a.id") < F.col("b.id"))
    else:
        cents = collect_centroids(e, n_cells)
        assigned = assign_cells(e, cents)
        a, b = assigned.alias("a"), assigned.alias("b")
        joined = a.join(
            b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id"))
        )
    return (
        joined.select(
            F.col("a.id").alias("vec_a"),
            F.col("b.id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


DEDUP_SUMMARY_COLS = [
    "n_docs", "n_distinct_contents", "n_dup_docs", "n_redundant", "dup_rate",
]


def dedup_summary(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level exact-duplication profile (single row):
    n_docs, n_distinct_contents, n_dup_docs (docs in any group >= 2),
    n_redundant (rows dedup would drop), dup_rate (= redundant/docs).

    One shuffle: groupBy(content hash) sizes, then a tiny fused
    aggregate — no window, no join, screen-sized output at any scale.
    """
    h = X.md5_hex(X.normalized(F.col(text_col)))
    groups = docs.select(h.alias("content_md5")).groupBy("content_md5").agg(
        F.count(F.lit(1)).alias("sz")
    )
    # coalesce(sum, 0): empty corpus -> zero counts; try_divide keeps
    # dup_rate NULL there instead of an ANSI divide-by-zero
    agg = groups.agg(
        F.coalesce(F.sum("sz"), F.lit(0)).alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_contents"),
        F.coalesce(
            F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("n_dup_docs"),
    )
    rate = "try_divide(cast(n_docs - n_distinct_contents AS double), cast(n_docs AS double))"
    return agg.selectExpr(
        "n_docs", "n_distinct_contents", "n_dup_docs",
        "n_docs - n_distinct_contents AS n_redundant",
        f"cast({ROUND6.format(x=rate)} AS double) AS dup_rate",
    ).select(*DEDUP_SUMMARY_COLS)


EVAL_COLS = ["n_truth", "n_pred", "tp", "fp", "fn", "precision", "recall"]


def dedup_eval(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Precision/recall of the MinHash-LSH pipeline against the exact
    shingle-Jaccard ground truth — the recall audit run before trusting a
    banding config on a new corpus (P[candidate] = 1-(1-j^r)^b predicts
    it; this measures it).

    Both pair relations are tiny relative to the corpus; the eval is a
    full-outer join on the (doc_a, doc_b) key + one global count row.
    FP/FN come from banding misses and the hot-shingle cap asymmetry
    (the ground truth caps postings; LSH verify intersects full sets).

    r9: truth and pred consume ONE shared shingle-set relation — they
    previously each built (tokenize + md5-shingle + checkpoint) their own
    identical copy, doubling the dominant map pass. Same values: the
    shared relation is exactly what either would have computed.
    """
    base = _shingle_sets(docs, text_col, id_col, n)
    truth = jaccard_near_duplicates(
        docs, text_col, id_col, n, threshold, shingle_base=base
    ).select("doc_a", "doc_b", F.lit(1).alias("_t"))
    pred = minhash_lsh_near_duplicates(
        docs, text_col, id_col, n, threshold=threshold, shingle_base=base
    ).select("doc_a", "doc_b", F.lit(1).alias("_p"))
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer")
    # Engine-stable 6-dp half-up ratio: round6(tp/d) computed entirely in
    # integer arithmetic as floor((2*tp*1e6 + d) / (2*d)) — an exact
    # rational compare, so Spark and any oracle engine agree bit-for-bit.
    # The earlier double-division form crossed a .5-ulp rounding boundary
    # in one harness (r02), which had forced precision/recall OFF the
    # hashed surface; this puts them back on it.  micro <= 1e6, so the
    # final double division by 1e6 is exact.
    r6ratio = (
        "CAST((2 * tp * 1000000 + ({d})) DIV nullif(2 * ({d}), 0) AS DOUBLE)"
        " / CAST(1000000 AS DOUBLE)"
    )
    # coalesce(sum, 0): an EMPTY pair relation (clean corpus) must report
    # a zero confusion matrix, not NULLs (sum over zero rows is NULL)
    return j.agg(
        F.coalesce(F.sum(F.coalesce(F.col("_t"), F.lit(0))), F.lit(0)).alias("n_truth"),
        F.coalesce(F.sum(F.coalesce(F.col("_p"), F.lit(0))), F.lit(0)).alias("n_pred"),
        F.coalesce(
            F.sum((F.col("_t").isNotNull() & F.col("_p").isNotNull()).cast("int")),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(F.sum((F.col("_t").isNull()).cast("int")), F.lit(0)).alias("fp"),
        F.coalesce(F.sum((F.col("_p").isNull()).cast("int")), F.lit(0)).alias("fn"),
    ).selectExpr(
        "n_truth", "n_pred", "tp", "fp", "fn",
        f"{r6ratio.format(d='tp + fp')} AS precision",
        f"{r6ratio.format(d='tp + fn')} AS recall",
    )


def minhash_lsh_incremental(
    docs: DataFrame,
    is_new: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 12,
    n_bands: int = 6,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: pairs involving at least one NEW
    document — the daily-ingest shape at 100 TB, where re-running the
    full self-join over the whole corpus is the thing you must never do.

    Same deterministic MinHash/banding as
    :func:`minhash_lsh_near_duplicates`, but the candidate join is
    (new-doc bands) x (all bands): cost scales with |new| x collision
    rate, not |corpus|^2. In production the right side is the PERSISTED
    band index (signatures are append-only state — the incremental.py
    state model applied to dedup); here both sides derive from one
    corpus frame with ``is_new`` marking the increment. Result ==
    the full run filtered to pairs touching a new doc (the oracle).
    """
    assert n_hashes == n_bands * rows_per_band
    base = _shingle_sets(docs, text_col, id_col, n)
    keyed = _lsh_band_keys(base, n_hashes, n_bands, rows_per_band)
    new_ids = docs.where(is_new).select(F.col(id_col).alias("id")).distinct()
    new_keyed = keyed.join(F.broadcast(new_ids), "id", "leftsemi")
    a, b = new_keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
        )
        .distinct()
    )
    return _verified_pairs(cand, base, threshold)
