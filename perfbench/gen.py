"""Seeded input generator for the product benchmark.

Every workload has a fixed shape (table count, rows, columns, documents);
the seed only changes the values.  Generation is numpy + pyarrow in this
process, no Spark, so it is excluded from every timed region.

Each builder returns an ``Inputs``: the Parquet files written, the column
inventory the DuckDB oracle needs, and the measured input properties the
result reports (a later change can name the property its gain depends on
and cite the share measured here).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NUM, TEXT, DATE = "num", "text", "date"

# Shapes are sized so that one steady pass takes a few seconds on a 4-CPU
# host: the cost of these paths is per job and per plan, not per row.
# catalog_publish: narrow mixed-type tables, so the CLI's per-table loop
# (jobs, planning, both sinks, the frequency metrics of the text column)
# dominates over scan cost.
CATALOG_ROWS = (2000, 3000)
# dedup_documents: a corpus with a stated share of planted edited copies.
DOCS = 200
DOC_DUP_SHARE = 0.10
DOC_TOKENS = (40, 90)
VOCAB = 4000


@dataclass
class Inputs:
    """Generated inputs of one workload."""

    paths: dict[str, str]
    # table -> [(column, kind, spark type)] for profiled columns; dates are
    # listed with kind DATE (skipped by the default profile config).
    columns: dict[str, list[tuple[str, str, str]]]
    props: dict[str, float] = field(default_factory=dict)
    # dedup only: the planted near-duplicate id pairs, smaller id first
    planted: list[tuple[int, int]] = field(default_factory=list)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words built from seeded syllables."""
    syl = np.array(
        [a + b for a in "bcdfgklmnprstvz" for b in "aeiou"], dtype=object
    )
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _text(rng, labels: np.ndarray, rows: int, null_rate: float) -> pa.Array:
    idx = rng.integers(0, len(labels), rows)
    mask = rng.random(rows) < null_rate
    arr = pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32(), mask=mask), pa.array(labels, pa.string())
    )
    return arr.cast(pa.string())


def _float(rng, rows: int, scale: float, null_rate: float) -> pa.Array:
    # two decimals, well inside the profiler's exact-decimal domain
    v = np.round(rng.normal(0.0, scale, rows), 2)
    return pa.array(v, pa.float64(), mask=rng.random(rows) < null_rate)


def _int(rng, rows: int, hi: int, null_rate: float, typ=pa.int64()) -> pa.Array:
    v = rng.integers(0, hi, rows)
    return pa.array(v, typ, mask=rng.random(rows) < null_rate)


def _date(rng, rows: int) -> pa.Array:
    days = rng.integers(18000, 20000, rows).astype(np.int32)
    return pa.array(days, pa.date32())


def _spark_type(t: pa.DataType) -> tuple[str, str]:
    if pa.types.is_string(t):
        return TEXT, "string"
    if pa.types.is_date32(t):
        return DATE, "date"
    return NUM, {"int32": "int", "int64": "bigint", "double": "double"}[str(t)]


def _write(tables: dict[str, pa.Table], out_dir: str) -> Inputs:
    os.makedirs(out_dir, exist_ok=True)
    paths, columns = {}, {}
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p, compression="snappy")
        paths[name] = p
        columns[name] = [(f.name, *_spark_type(f.type)) for f in t.schema]
    text_ratios = []
    for t in tables.values():
        for f in t.schema:
            if pa.types.is_string(f.type):
                col = t.column(f.name)
                nn = len(col) - col.null_count
                text_ratios.append(
                    len(pc.unique(col.drop_null())) / nn if nn else 0.0
                )
    kinds = [k for cols in columns.values() for _, k, _ in cols]
    props = {
        "tables": len(tables),
        "rows": sum(t.num_rows for t in tables.values()),
        "num_cols": kinds.count(NUM),
        "text_cols": kinds.count(TEXT),
        "date_cols": kinds.count(DATE),
        "text_distinct_ratio": (
            sum(text_ratios) / len(text_ratios) if text_ratios else 0.0
        ),
        "dup_share": 0.0,
        "parquet_bytes": sum(os.path.getsize(p) for p in paths.values()),
    }
    return Inputs(paths, columns, props)


def catalog_inputs(seed: int, out_dir: str) -> Inputs:
    """Narrow tables of numeric and date columns, one with a text column."""
    rng = np.random.default_rng([seed, 1])
    words = _vocab(rng, 800)
    tables = {}
    for i, rows in enumerate(CATALOG_ROWS):
        cols = {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "qty": _int(rng, rows, 500, 0.02, pa.int32()),
            "amount": _float(rng, rows, 1000.0, 0.05),
            "created": _date(rng, rows),
        }
        if i == 0:
            # a high-cardinality label with nulls: the text path and the
            # frequency metrics
            cols["label"] = _text(rng, words, rows, 0.03)
        tables[f"pb_cat{i}"] = pa.table(cols)
    return _write(tables, out_dir)


def documents_inputs(seed: int, out_dir: str) -> Inputs:
    """A corpus where DOC_DUP_SHARE of the documents are edited copies.

    A copy substitutes one token in about every twenty, which keeps its
    word-3-gram Jaccard with the original well above the 0.5 threshold;
    unrelated documents share almost no 3-grams.
    """
    rng = np.random.default_rng([seed, 3])
    words = _vocab(rng, VOCAB)
    # Zipf-like word frequencies, as in natural text
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
    p /= p.sum()
    n_dup = int(DOCS * DOC_DUP_SHARE)
    n_orig = DOCS - n_dup
    docs: list[list[str]] = []
    for _ in range(n_orig):
        k = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        docs.append(list(words[rng.choice(VOCAB, k, p=p)]))
    sources = rng.choice(n_orig, n_dup, replace=False)
    for src in sources:
        toks = list(docs[src])
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = words[rng.integers(0, VOCAB)]
        docs.append(toks)
    # shuffle ids so copies are not a contiguous tail
    ids = rng.permutation(DOCS).astype(np.int64)
    text = [" ".join(t).capitalize() + "." for t in docs]
    planted = sorted(
        tuple(sorted((int(ids[s]), int(ids[n_orig + k]))))
        for k, s in enumerate(sources)
    )
    t = pa.table({"doc_id": pa.array(ids), "text": pa.array(text, pa.string())})
    inputs = _write({"pb_documents": t}, out_dir)
    inputs.planted = planted
    inputs.props["dup_share"] = n_dup / DOCS
    return inputs


BUILDERS = {
    "catalog_publish": catalog_inputs,
    "dedup_documents": documents_inputs,
}
