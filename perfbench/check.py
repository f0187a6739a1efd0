"""Output checks against the DuckDB oracle, run outside every timed region.

The expected results are computed once per run from the same generated
Parquet files the engine reads; every pass's output is then compared with
them.  A check returns a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

from data_profiler_for_aws_glue_data_catalog_spark import oracle as O
from data_profiler_for_aws_glue_data_catalog_spark import oracle_ext as OX
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    quantile_name,
    quantile_points,
)

from perfbench.gen import NUM, TEXT, Inputs

# The two metrics whose last digits depend on the engine (libm ln, a
# decimal-to-double rounding); the oracle rounds them to 6 dp.
ROUNDED = ("Entropy", "StandardDeviation")
PREFIX = "DQP__"
N_QUANTILES = 10


def _duckdb() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _connect(inputs: Inputs) -> duckdb.DuckDBPyConnection:
    con = _duckdb()
    for name, path in inputs.paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _approx_names(cols) -> set[tuple[str, str]]:
    """(instance, metric) of the sketch metrics, which have no exact oracle:
    they are checked as an inventory."""
    out = set()
    for c, kind, _ in cols:
        if kind in (NUM, TEXT):
            out.add((c, "ApproxCountDistinct"))
        if kind == NUM:
            out |= {(c, quantile_name(p)) for p in quantile_points(N_QUANTILES)}
    return out


class ProfileOracle:
    """Expected long metrics relation of every generated table."""

    def __init__(self, inputs: Inputs) -> None:
        # the oracle generates its SQL from this column inventory
        O.TABLE_COLUMNS.update({
            t: [(c, k, typ) for c, k, typ in cols if k in (NUM, TEXT)]
            for t, cols in inputs.columns.items()
        })
        sql = "\nUNION ALL\n".join(
            f"SELECT * FROM ({O.profile_table_sql(t, with_table_name=True)})"
            for t in inputs.paths
        )
        con = _connect(inputs)
        rows = con.execute(
            f"SELECT table_name, entity, instance, name, value, type FROM ({sql})"
        ).fetchall()
        con.close()
        self.values = {(t, e, i, n): v for t, e, i, n, v, _ in rows}
        self.types = {(t, e, i, n): ty for t, e, i, n, _, ty in rows}
        self.approx = {
            t: _approx_names(cols) for t, cols in inputs.columns.items()
        }

    def compare(self, got: dict, approx: dict, what: str) -> list[str]:
        """``got``: (table, entity, instance, name) -> value of the exact
        metrics; ``approx``: table -> {(instance, name)} of sketch metrics."""
        errors = []
        if set(got) != set(self.values):
            missing = sorted(set(self.values) - set(got))[:3]
            extra = sorted(set(got) - set(self.values))[:3]
            errors.append(f"{what}: metric set differs, missing {missing} extra {extra}")
        for k in set(got) & set(self.values):
            if not same_value(k[3], got[k], self.values[k]):
                errors.append(f"{what}: {k} = {got[k]!r}, oracle {self.values[k]!r}")
        for t, names in self.approx.items():
            if approx.get(t, set()) != names:
                errors.append(f"{what}: sketch metric inventory of {t} differs")
        return errors[:10]


def same_value(name: str, a, b) -> bool:
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if name in ROUNDED:
        return abs(a - b) <= 1e-6
    return float(a) == float(b)


def _is_approx(name: str) -> bool:
    return name.startswith("Approx")


def check_catalog_json(oracle: ProfileOracle, path: str, db: str) -> list[str]:
    """The local catalog store written by the CLI's parameter sink."""
    with open(path, encoding="utf-8") as f:
        raw = json.load(f)[db]
    got, approx = {}, {}
    for t, entry in raw.items():
        scoped = [("Dataset", "*", entry["parameters"])] + [
            ("Column", c, p) for c, p in entry["column_parameters"].items()
        ]
        for entity, inst, params in scoped:
            for k, v in params.items():
                name = k[len(PREFIX):]
                if _is_approx(name):
                    approx.setdefault(t, set()).add((inst, name))
                else:
                    got[(t, entity, inst, name)] = float(v)
    return oracle.compare(got, approx, "catalog")


def check_parquet_sink(oracle: ProfileOracle, prefix: str, db: str) -> list[str]:
    """The partitioned Parquet metrics sink, read back with DuckDB."""
    con = _duckdb()
    rows = con.execute(
        "SELECT table_name, entity, instance, name, value, type, db_name,"
        " db_name_embed, table_name_embed FROM read_parquet(?, hive_partitioning = true)",
        [os.path.join(prefix, "**", "*.parquet")],
    ).fetchall()
    con.close()
    got, approx, errors = {}, {}, []
    for t, e, i, n, v, ty, dbn, dbe, te in rows:
        if (dbn, dbe, te) != (db, db, t):
            errors.append(f"parquet: provenance columns of {t} wrong")
        if _is_approx(n):
            approx.setdefault(t, set()).add((i, n))
            continue
        got[(t, e, i, n)] = v
        if ty != oracle.types.get((t, e, i, n)):
            errors.append(f"parquet: type of {(t, e, i, n)} is {ty!r}")
    return errors[:5] + oracle.compare(got, approx, "parquet")


class DedupOracle:
    """Expected near-duplicate pairs and evaluation row of the corpus."""

    def __init__(self, inputs: Inputs, table: str) -> None:
        def query(sql_of):
            con = _connect(inputs)
            try:
                return con.execute(sql_of(table)).fetchall()
            finally:
                con.close()

        # three independent queries, each partly single-threaded in DuckDB
        with ThreadPoolExecutor(3) as ex:
            mh, jc, ev = ex.map(query, (
                OX.minhash_lsh_near_duplicates_sql,
                OX.jaccard_near_duplicates_sql,
                OX.dedup_eval_sql,
            ))
        self.minhash, self.jaccard, self.eval = set(mh), set(jc), tuple(ev[0])

    def compare(self, minhash, jaccard, ev) -> list[str]:
        errors = []
        for what, got, want in (
            ("minhash", minhash, self.minhash), ("jaccard", jaccard, self.jaccard)
        ):
            got = {tuple(r) for r in got}
            if got != want:
                errors.append(
                    f"{what}: {len(got - want)} unexpected, {len(want - got)} missing pairs"
                )
        if tuple(ev) != self.eval:
            errors.append(f"dedup_eval: {tuple(ev)} != oracle {self.eval}")
        return errors
