"""Deterministic text expression library (Spark side).

Every builder here has an exact ANSI-SQL mirror in ``oracle_ext.py`` — same
normalization, same tokenization, same hashing — so the LLM-pipeline
operators built on them (dedup, text analysis, fingerprinting) are
oracle-checkable bit-for-bit, not merely "close".

Design rules for cross-engine determinism:
- Hashing is md5-over-UTF-8 hex strings (lowercase in both Spark and
  DuckDB). MinHash uses *lexicographic MIN over hex strings*, so no
  hex->int conversion (whose width/signedness differs across engines) is
  ever needed.
- Integer-valued intermediates (token counts, stopword hits) are exact;
  the only doubles are final ratios, computed in one fixed expression
  shape.
- Regexes stick to explicit ASCII classes (`[a-z0-9]`) that mean the same
  thing in Java regex (Spark) and RE2 (DuckDB).

All expressions are built from pyspark.sql.functions only — JVM-side,
no Python UDFs anywhere on this path.

Higher-order functions (transform/filter/aggregate) are the exception to
whole-stage codegen: they run interpreted, with no common-subexpression
elimination. Hence the rule: a HOF lambda reads only its own arguments.
An outer array expression read inside a lambda is re-evaluated per
element, so a ``tokens(text)`` expression indexed from a per-gram lambda
re-tokenizes the document once per gram (quadratic in its length). Pass
array operands that are projected columns, and let the lambda receive
everything else it needs through its arguments (``arrays_zip``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word-splitting normalization: lowercase, collapse every non-alnum run to
# one space, trim. '' stays '' (whose token list is empty, not ['']).
_NORM_PATTERN = "[^a-z0-9]+"


def normalized(col: Column) -> Column:
    """Lowercased, punctuation-collapsed, trimmed text."""
    return F.trim(F.regexp_replace(F.lower(col), _NORM_PATTERN, " "))


def tokens(col: Column) -> Column:
    """array<string> of non-empty normalized word tokens."""
    return F.filter(F.split(normalized(col), " "), lambda t: t != F.lit(""))


def _word_grams(
    toks: Column, n: int, per_gram: Callable[[Column], Column], empty_type: str
) -> Column:
    """Distinct ``per_gram(<space-joined gram>)`` over the word n-grams of
    ``toks``; an ``empty_type`` empty array below n tokens.

    The transform walks ``arrays_zip`` of the n shifted slices of ``toks``,
    so gram i is the struct (toks[i], ..., toks[i+n-1]) and the lambda reads
    only its own argument. ``toks`` should be a projected column (see the
    module rules): every slice and every size reads it again.
    """
    m = F.size(toks) - F.lit(n - 1)
    shifted = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            shifted,
            lambda z: per_gram(F.concat_ws(" ", *[z[str(k)] for k in range(n)])),
        ),
    ).otherwise(F.array().cast(empty_type))
    return F.array_distinct(grams)


def word_shingles(toks: Column, n: int) -> Column:
    """array<string> of space-joined word n-grams (deduplicated).

    Empty when the document has fewer than ``n`` tokens. Dedup makes the
    shingle *set* (Jaccard semantics) rather than the multiset.
    """
    return _word_grams(toks, n, lambda g: g, "array<string>")


def hashed_word_shingles(toks: Column, n: int) -> Column:
    """array<bigint> of distinct 60-bit hashes of word n-grams.

    The gram STRINGS are transient inside this one map expression — what
    flows through the plan (dedup/cache/explode/join/groupBy) is 8-byte
    longs, not ~n*word-length strings. h = first 15 hex digits of
    md5(gram) as an integer (< 2^60): collision probability for D distinct
    shingles ~ D^2/2^61 — ~4e-7 at 1M shingles, still < 1e6 colliding
    PAIRS at 10^12 shingles (a vanishing relative error in co-occurrence
    counts; use the string path if exactness to the last pair is required).
    Mirrored bit-for-bit by oracle_ext.hex60_to_long_sql.
    """
    return _word_grams(
        toks, n, lambda g: hex60_to_long(F.md5(g.cast("binary"))), "array<bigint>"
    )


def hex60_to_long(h: Column) -> Column:
    """bigint value of the first 15 hex chars of ``h`` (0 .. 2^60-1).

    Same native conv() trick as :func:`hex32_to_long`; 15 digits keep the
    unsigned conv result well inside the positive bigint range.
    """
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def md5_hex(col: Column) -> Column:
    """Lowercase 32-char md5 hex of a string column (UTF-8 bytes)."""
    return F.md5(col.cast("binary"))


def seeded_hash(col: Column, seed: int) -> Column:
    """Seeded 128-bit hash as hex: md5('<seed>|' || value).

    A family of independent hash functions indexed by ``seed`` —
    lexicographic order over the hex is a total order, which is all MinHash
    needs.
    """
    return md5_hex(F.concat(F.lit(f"{seed}|"), col))


# MinHash hash family: h_i(x) = (A[i] * x + B[i]) mod 2^32 over the 32-bit
# md5-derived shingle hash x. One md5 per shingle total (vs one per shingle
# PER SEED with seeded-md5 MinHash — a 12x md5 saving at n_hashes=12); the
# affine transforms are exact int64 arithmetic with a 1:1 DuckDB mirror
# (A < 2^29 and x < 2^32 keep A*x + B < 2^62, no overflow in either engine).
# Fixed public constants (odd multipliers, arbitrary odd offsets).
MINHASH_A = (
    179424673, 275604541, 373587883, 472882027, 533000389, 479001599,
    198491317, 295075147, 393342739, 492876847, 433024223, 104395301,
)
MINHASH_B = (
    15485863, 32452843, 49979687, 67867967, 86028121, 104395303,
    122949823, 141650939, 160481183, 179424691, 198491329, 217645177,
)
M32 = 2**32


def minhash_agg_exprs(h32: Column, n_hashes: int) -> list[Column]:
    """Codegen'd MinHash: one ``F.min`` aggregate per affine family member,
    over EXPLODED per-shingle 32-bit hashes (``h32`` is the exploded hash
    column). Use as ``postings.groupBy("id").agg(*minhash_agg_exprs(...))``;
    aliases are ``mh0..mh{n-1}``.

    sig[i] = MIN over shingles of (A[i]*h + B[i]) mod 2^32, exact int64
    arithmetic. The explode + hash-aggregate shape keeps the whole signature
    inside whole-stage codegen; array-lambda forms (transform/aggregate/
    zip_with) drop to interpreted per-element evaluation (~2 us/element,
    measured 10x slower at sf0.1) because higher-order functions don't
    codegen. Partial aggregation collapses to one row per doc map-side, so
    the groupBy shuffle moves ~n_hashes*8 bytes per document, not per
    shingle.
    """
    assert n_hashes <= len(MINHASH_A)
    m = F.lit(M32).cast("bigint")
    return [
        F.min(
            F.pmod(
                F.lit(MINHASH_A[i]).cast("bigint") * h32
                + F.lit(MINHASH_B[i]).cast("bigint"),
                m,
            )
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def band_keys(signature: Column, n_bands: int, rows_per_band: int) -> Column:
    """array<string> of LSH band bucket keys:
    'b<i>:' || sig[r0] || ':' || sig[r1] || ...

    The ':' separator keeps variable-width integer components unambiguous.
    Two docs collide on band i iff their signatures agree on all
    ``rows_per_band`` components of that band.
    """
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(f"b{b}"),
                *[
                    F.element_at(signature, b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def hex32_to_long(h: Column) -> Column:
    """bigint value of the first 8 hex chars of ``h`` (0 .. 2^32-1).

    One native ``conv(hex, 16, 10)`` + cast. 8 hex digits < 2^32, so
    conv's unsigned-64 semantics can't wrap — the VALUE equals the plain
    positional sum the DuckDB oracle computes nibble-by-nibble
    (oracle_ext.hex32_to_long_sql); only the implementation differs (the
    8x substring/strpos expression tree costs ~8x more interpreted ops
    per value, which dominates hashing-heavy operators).
    """
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")


def token_hashes32(toks: Column) -> Column:
    """array<bigint>: 32-bit md5-derived hash per token (md5 computed once
    per token via a nested transform). Materialize this as a column before
    fanning out into the 32 per-bit sums of :func:`simhash32_from_hashes`.
    """
    return F.transform(
        F.transform(toks, lambda t: md5_hex(t)),
        lambda h: hex32_to_long(h),
    )


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash fingerprint (bigint in [0, 2^32)) from per-token
    32-bit hashes.

    Classic Charikar construction: bit j of the fingerprint is set iff
    sum over tokens of (+1 if bit j of the token hash else -1) > 0.
    Empty token list -> 0.
    """

    def bit_sum(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + (F.shiftright(v, j) % F.lit(2)) * F.lit(2) - F.lit(1),
        )

    fp: Column = F.lit(0).cast("bigint")
    for j in range(32):
        fp = fp + F.when(bit_sum(j) > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return F.when(F.size(hashes) > 0, fp).otherwise(F.lit(0).cast("bigint"))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit fingerprints stored as bigint."""
    x = a.bitwiseXOR(b)
    return sum(
        ((F.shiftright(x, j) % F.lit(2)) for j in range(32)),
        F.lit(0).cast("bigint"),
    ).cast("int")
