"""Product benchmark of the profiler, end to end and layer by layer.

    python3 perfbench/run.py --workload catalog_publish --seed 1 \
        --seconds 5 --trace 0

Run from the repository root.  One run is one fresh process: it generates
the workload's inputs from the seed, times its own cold set-up (process
start to session ready), runs one cold pass and then steady passes until
``--seconds`` have gone by, and checks every pass's output against the
DuckDB oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced passes, wraps the program's public functions in spans
and prints the per-layer metrics (see perfbench/README.md).  The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import tree_cpu_seconds  # noqa: E402  (needs ROOT on sys.path)

OUT = os.path.join(ROOT, ".perfbench_out")
DB = "default"
# With passes longer than --seconds / MIN_STEADY, the steady passes are
# always the 2nd to 4th pass of the process, so they meet the JVM at the
# same point of its warm-up in every run (README.md, "Warm-up").
MIN_STEADY = 3
WORKLOADS = ("catalog_publish", "dedup_documents")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/stat", encoding="ascii") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _proc_tree() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat", encoding="ascii") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(p))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every process in the tree."""
    kb = 0
    for p in _proc_tree():
        try:
            with open(f"/proc/{p}/status", encoding="ascii") as f:
                kb += next(
                    (int(l.split()[1]) for l in f if l.startswith("VmHWM")), 0
                )
        except OSError:
            continue
    return kb / 1024


class Bench:
    """One benchmark run: inputs, session set-ups, passes and checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace,
        )
        self.work = os.path.join(OUT, f"{workload}-{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        tempfile.tempdir = self.tmp
        # Spark's scratch files and every JVM's temporary and perf-data
        # files stay inside the checkout
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = self.tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        self.cpus = len(os.sched_getaffinity(0))
        from perfbench.spans import Tracer

        self.spark = None
        self.tracer = Tracer()
        self.tracer.enabled = trace
        self.n_pass = 0

    # -- session ---------------------------------------------------------

    def build_session(self):
        """The engine's own session recipe, on local[nproc]."""
        from pyspark.sql import SparkSession

        from data_profiler_for_aws_glue_data_catalog_spark.plans.session import (
            engine_session_confs,
        )

        confs = engine_session_confs()
        confs.update({
            "spark.sql.shuffle.partitions": str(self.cpus),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        })
        b = SparkSession.builder.master(f"local[{self.cpus}]").appName("perfbench")
        for k, v in confs.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Session ready with the workload's tables registered."""
        from data_profiler_for_aws_glue_data_catalog_spark.operators import profile
        from data_profiler_for_aws_glue_data_catalog_spark.sources import registry

        with self.tracer.span("session.build"):
            self.spark = self.build_session()
        for name, path in self.inputs.paths.items():
            registry.read_parquet_table(self.spark, path).createOrReplaceTempView(name)
        names = profile.list_catalog_tables(self.spark, DB)
        if sorted(names) != sorted(self.inputs.paths):
            raise RuntimeError(f"registered tables {names} != {list(self.inputs.paths)}")

    def isolate(self) -> None:
        """Fresh state before a timed pass: no cached relations, no
        leftover jobs, no temp views but this workload's tables."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext.cancelAllJobs()
        for t in self.spark.catalog.listTables(DB):
            if t.isTemporary and t.name not in self.inputs.paths:
                self.spark.catalog.dropTempView(t.name)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- workloads -------------------------------------------------------

    def pass_catalog_publish(self, pass_dir: str):
        from data_profiler_for_aws_glue_data_catalog_spark import cli

        out, cat = os.path.join(pass_dir, "metrics"), os.path.join(pass_dir, "catalog.json")
        with self.tracer.span("cli.run"):
            rc = cli.run(
                ["--dbName", DB, "--compExp", "true",
                 "--outputPrefix", out, "--catalogJson", cat],
                spark=self.spark,
            )
        if rc != 0:
            raise RuntimeError(f"cli.run returned {rc}")
        return out, cat

    def check_catalog_publish(self, result) -> list[str]:
        from perfbench import check

        out, cat = result
        return check.check_catalog_json(self.oracle, cat, DB) + check.check_parquet_sink(
            self.oracle, out, DB
        )

    def pass_dedup_documents(self, pass_dir: str):
        from data_profiler_for_aws_glue_data_catalog_spark.operators import dedup, profile

        (name,) = profile.list_catalog_tables(self.spark, DB)
        docs = self.spark.table(name)
        with self.tracer.span("dedup.minhash"):
            mh = dedup.minhash_lsh_near_duplicates(docs).collect()
        with self.tracer.span("dedup.jaccard"):
            jc = dedup.jaccard_near_duplicates(docs).collect()
        with self.tracer.span("dedup.eval"):
            (ev,) = dedup.dedup_eval(docs).collect()
        return mh, jc, ev

    def check_dedup_documents(self, result) -> list[str]:
        return self.oracle.compare(*result)

    def make_oracle(self):
        from perfbench import check

        if self.workload == "dedup_documents":
            return check.DedupOracle(self.inputs, "pb_documents")
        return check.ProfileOracle(self.inputs)

    # -- passes ----------------------------------------------------------

    def one_pass(self) -> dict:
        """One isolated, timed pass; its output is checked afterwards."""
        self.n_pass += 1
        pass_dir = os.path.join(self.work, f"pass{self.n_pass}")
        os.makedirs(pass_dir)
        self.isolate()
        run = getattr(self, f"pass_{self.workload}")
        rec = {"id": f"pass{self.n_pass}", "errors": [], "result": None}
        c0, t0 = tree_cpu_seconds(), time.perf_counter()
        try:
            rec["result"] = run(pass_dir)
        except Exception as e:  # a failed pass counts toward error_rate
            traceback.print_exc()
            rec["errors"] = [f"{type(e).__name__}: {e}"]
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_seconds() - c0
        log(f"{rec['id']} wall {rec['wall_s']:.2f} s cpu {rec['cpu_s']:.2f} s")
        return rec

    def check_all(self, recs: list[dict]) -> None:
        """Compare every pass's output with the oracle (after the passes,
        so neither the oracle's time nor its memory is measured)."""
        self.oracle = self.make_oracle()
        check = getattr(self, f"check_{self.workload}")
        for r in recs:
            if r["result"] is not None:
                try:
                    r["errors"] = check(r["result"])
                except Exception as e:  # missing or malformed output
                    traceback.print_exc()
                    r["errors"] = [f"{type(e).__name__}: {e}"]

    def run(self) -> dict:
        t_start = process_start()
        import pyspark  # noqa: F401  (import cost belongs to set-up)

        import data_profiler_for_aws_glue_data_catalog_spark  # noqa: F401

        pre = time.time() - t_start
        from perfbench import gen

        self.inputs = gen.BUILDERS[self.workload](
            self.seed, os.path.join(self.work, "inputs")
        )
        log(f"inputs {self.inputs.props}")
        return self._traced(pre) if self.trace else self._timed(pre)

    def cold_setup(self, pre: float) -> float:
        """Process start to session ready with the tables registered, the
        cost a CLI invocation pays; ``pre`` is process start to imports
        done (input generation, which follows, is left out)."""
        self.tracer.pass_id = "setup"
        t0 = time.perf_counter()
        self.setup()
        return pre + time.perf_counter() - t0

    def _passes(self, first_step, step, min_steady: int) -> tuple:
        """The cold pass, then steady passes until ``seconds`` have elapsed
        (at least ``min_steady``)."""
        first = first_step()
        steady = []
        t_end = time.perf_counter() + self.seconds
        while len(steady) < min_steady or time.perf_counter() < t_end:
            steady.append(step(len(steady)))
        return first, steady

    def _timed(self, pre: float) -> dict:
        setup_s = self.cold_setup(pre)
        log(f"cold set-up {setup_s:.2f} s")
        first, steady = self._passes(
            self.one_pass, lambda i: self.one_pass(), MIN_STEADY
        )
        recs = [first] + steady
        peak_rss = tree_peak_rss_mb()
        self.check_all(recs)
        failed = sum(1 for r in recs if r["errors"])
        wall = statistics.median(r["wall_s"] for r in steady)
        return self._result(recs, {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (first["wall_s"], "s"),
            "first_pass_cpu_s": (first["cpu_s"], "s"),
            "wall_s": (wall, "s"),
            "wall_s_samples": (len(steady), "count"),
            "cpu_s": (statistics.median(r["cpu_s"] for r in steady), "s"),
            "rows_per_s": (self.inputs.props["rows"] / wall, "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
            "error_rate": (failed / len(recs), "ratio"),
        })

    def _traced(self, pre: float) -> dict:
        from data_profiler_for_aws_glue_data_catalog_spark import sinks
        from data_profiler_for_aws_glue_data_catalog_spark.operators import dedup, profile
        from data_profiler_for_aws_glue_data_catalog_spark.sinks import catalog_sink
        from data_profiler_for_aws_glue_data_catalog_spark.sources import registry

        from perfbench import layers
        from perfbench.spans import PlanListener, SparkStatus, jvm_counters

        cat = catalog_sink.LocalMetadataCatalog
        targets = [
            (registry, "read_parquet_table", "registry.read_parquet_table"),
            (profile, "list_catalog_tables", "profile.list_catalog_tables"),
            (profile, "profile_table", "profile.profile_table"),
            (profile, "profile_database", "profile.profile_database"),
            (profile, "scan_metrics_long", "profile.scan_metrics_long"),
            (profile, "frequency_metrics_long", "profile.frequency_metrics_long"),
            (catalog_sink, "metrics_to_params", "catalog_sink.metrics_to_params",
             layers.count_params),
            (cat, "register_table", "catalog_sink.register_table", layers.store_size),
            (cat, "update_table_metadata", "catalog_sink.update_table_metadata",
             layers.store_size),
            (sinks, "write_metrics_parquet", "parquet_sink.write_metrics_parquet"),
            (dedup, "minhash_lsh_near_duplicates", "dedup.minhash_lsh_near_duplicates"),
            (dedup, "jaccard_near_duplicates", "dedup.jaccard_near_duplicates"),
            (dedup, "dedup_eval", "dedup.dedup_eval"),
        ]
        from pyspark.java_gateway import ensure_callback_server_started

        with self.tracer.patched(targets):
            self.cold_setup(pre)
            ensure_callback_server_started(self.spark.sparkContext._gateway)
            plans = PlanListener()
            listeners = self.spark._jsparkSession.listenerManager()
            listeners.register(plans)
            status = SparkStatus(self.spark)
            status.read()  # skip the set-up's jobs

            def traced_pass():
                self.tracer.pass_id = f"pass{self.n_pass + 1}"
                j0, n_plans = jvm_counters(self.spark), len(plans.phases)
                with self.tracer.span("pass"):
                    rec = self.one_pass()
                jobs, stages = status.read()
                rec["jobs"], rec["stages"] = jobs, stages
                rec["jvm0"], rec["jvm1"] = j0, jvm_counters(self.spark)
                rec["plan_s"] = sum(plans.phases[n_plans:])
                rec["traced"] = True
                return rec

            def untraced_pass():
                # the wrappers stay in place but record nothing, and the
                # plan listener is off: the difference to a traced pass is
                # the tracing overhead
                listeners.unregister(plans)
                self.tracer.enabled = False
                rec = self.one_pass()
                self.tracer.enabled = True
                listeners.register(plans)
                status.read()  # drop the untraced pass's jobs
                return rec

            # steady passes run untraced, traced, traced, untraced, ...:
            # both kinds sit at the same mean position, so the JIT warm-up
            # trend across passes does not leak into the tracing overhead
            first, steady = self._passes(
                traced_pass,
                lambda i: traced_pass() if i % 4 in (1, 2) else untraced_pass(),
                min_steady=4,
            )
            listeners.unregister(plans)
        recs = [first] + steady
        self.check_all(recs)
        os.makedirs(OUT, exist_ok=True)
        self.tracer.write(
            os.path.join(OUT, f"spans-{self.workload}-{self.seed}.jsonl")
        )
        metrics = layers.per_layer(
            self.tracer, first, steady, self.inputs,
            jvm_counters(self.spark), self.workload,
        )
        return self._result(recs, metrics)

    def _result(self, recs: list[dict], measured: dict) -> dict:
        """Print every measured metric; the result carries the ones
        BENCHMARK.json declares for this mode."""
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            declared = json.load(f)["per_layer" if self.trace else "end_to_end"]
        if any(measured.get(m["name"], (0, None))[1] != m["unit"] for m in declared):
            raise RuntimeError("measured metrics do not cover BENCHMARK.json")
        failed = sum(1 for r in recs if r["errors"])
        for r in recs:
            for e in r["errors"]:
                print(f"error {r['id']}: {e}", file=sys.stderr)
        for name, (v, unit) in measured.items():
            print(f"metric {self.workload} {name} {v!r} {unit}")
        print(json.dumps({
            "workload": self.workload, "seed": self.seed, "inputs": self.inputs.props,
        }))
        return {
            "correct": failed == 0,
            "attempted": len(recs),
            "failed": failed,
            "metrics": {
                m["name"]: {"value": measured[m["name"]][0], "unit": m["unit"]}
                for m in declared
            },
        }


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
