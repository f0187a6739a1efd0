"""Optimized-plan identity check between two checkouts of the engine.

A refactor that must not change what Spark runs is checked by dumping
every registered query's optimized logical plan on both sides and
diffing the dumps:

    python scripts/plan_identity.py dump OUT.json [--sf DIR] [NAME ...]
    python scripts/plan_identity.py compare A.json B.json

``dump`` builds every ``__spark_entry__.queries()`` entry (or only the
NAMEs given) against DIR (default: the entry module's sf0.001 smoke
database) and records, per query, the optimized plan of the result and
of every subtree the query checkpoints on the way (``localCheckpoint`` /
``checkpoint``: the result plan only shows a LogicalRDD there). Plans
are normalized before they are stored: expression ids, lambda variable
numbers, RDD ids, plan ids, UUIDs, random hex suffixes and temp paths
carry no meaning across runs. Run it from the checkout to dump: the script imports the engine
next to itself.

``compare`` prints each query whose plan differs (or that failed on one
side) and a ``same/total`` line. Dump each side twice: a query whose
plan differs between two dumps of the SAME checkout is unstable (e.g.
``RewriteDistinctAggregates`` orders its Expand groups by expression id,
which concurrent jobs advance), and its mismatch across checkouts says
nothing about the change.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"\b([A-Za-z]\w*_)[0-9a-f]{32}\b"), r"\1HEX"),
    (re.compile(r"\b([A-Za-z]\w*_)[0-9a-f]{8}\b"), r"\1HEX"),
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]+"), "TMP"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def _plan(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def dump(out: str, sf_dir: str | None, names: list[str]) -> None:
    # Python workers (pandas UDFs, applyInPandasWithState) import the
    # engine too: they inherit the path from the environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = sf_dir or entry.SF_SMOKE
    DataFrame = type(spark.range(1))  # the concrete (classic) class

    checkpoints: list[str] = []
    originals = {}
    for meth in ("localCheckpoint", "checkpoint"):
        orig = getattr(DataFrame, meth)
        originals[meth] = orig

        def recording(self, *a, _orig=orig, **kw):
            checkpoints.append(_plan(self))
            return _orig(self, *a, **kw)

        setattr(DataFrame, meth, recording)

    queries = entry.queries()
    todo = names or list(queries)
    result: dict[str, dict] = {}
    for name in todo:
        checkpoints.clear()
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            result[name] = {"plan": _plan(df), "checkpoints": list(checkpoints)}
        except Exception as ex:  # recorded, compared like a plan
            result[name] = {"error": f"{type(ex).__name__}: {str(ex)[:300]}"}
        for q in spark.streams.active:
            q.stop()
        spark.catalog.clearCache()
        print(f"{name}: {time.time() - t0:.1f}s", "error" if "error" in result[name] else "")
    for meth, orig in originals.items():
        setattr(DataFrame, meth, orig)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    names = sorted(set(a) | set(b))
    differ = [n for n in names if a.get(n) != b.get(n) or "error" in a.get(n, {})]
    for n in differ:
        side = a.get(n, {}), b.get(n, {})
        why = (
            "missing" if not side[0] or not side[1]
            else "error" if "error" in side[0] or "error" in side[1]
            else "checkpoint plan" if side[0]["plan"] == side[1]["plan"]
            else "plan"
        )
        print(f"DIFF {n}: {why}")
    print(f"same {len(names) - len(differ)}/{len(names)}")
    return 1 if differ else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    d = sub.add_parser("dump")
    d.add_argument("out")
    d.add_argument("--sf", default=None)
    d.add_argument("names", nargs="*")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args(argv)
    if args.cmd == "dump":
        dump(args.out, args.sf, args.names)
        return 0
    return compare(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
