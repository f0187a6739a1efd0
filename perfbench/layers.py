"""Per-layer metrics of the traced run.

Each traced pass yields its spans, the Spark jobs and stages that ran in
it, JVM counter deltas and the Catalyst phase time; the reported value of
a per-pass metric is its median over the traced steady passes.  Layers a
workload does not call report 0.  perfbench/README.md lists which
end-to-end metric each of these should move, and on which workload.
"""

from __future__ import annotations

import os
import statistics

from perfbench.spans import covered, innermost, self_times

# Spans (benchmark steps and wrapped program functions) that get their own
# Spark job / executor CPU / shuffle / self-time breakdown.
SPAN_BREAKDOWN = (
    "cli.run",
    "catalog_sink.metrics_to_params",
    "parquet_sink.write_metrics_parquet",
    "dedup.minhash",
    "dedup.jaccard",
    "dedup.eval",
)


def count_params(span, result, args) -> None:
    """After ``metrics_to_params``: parameters produced = rows examined."""
    table_params, columns_params = result
    span.counts["params_rows"] = len(table_params) + sum(
        len(p) for p in columns_params.values()
    )


def store_size(span, result, args) -> None:
    """After a catalog store update: size of the JSON document it flushed."""
    path = args[0].path
    span.counts["bytes"] = os.path.getsize(path) if path and os.path.exists(path) else 0


def _dir_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def pass_metrics(spans, selfs, rec: dict, inputs, workload: str) -> dict[str, float]:
    """Layer values of one traced pass."""
    idx = [i for i, s in enumerate(spans) if s.pass_id == rec["id"]]
    sub = [spans[i] for i in idx]
    sub_self = [selfs[i] for i in idx]

    def dur(name):
        return sum(s.duration for s in sub if s.name == name)

    def cnt(name, key):
        return sum(s.counts.get(key, 0) for s in sub if s.name == name)

    jobs, stages = rec["jobs"], rec["stages"]
    # job id -> the innermost SPAN_BREAKDOWN span open at its submission,
    # so a step's figures include the jobs of the functions it calls
    steps = [s for s in sub if s.name in SPAN_BREAKDOWN]
    owner = {}
    for j in jobs:
        k = innermost(steps, j["submit"]) if j["submit"] is not None else None
        owner[j["id"]] = steps[k].name if k is not None else None
    stage_owner = {}
    for j in sorted(jobs, key=lambda j: j["id"], reverse=True):
        for sid in j["stages"]:
            stage_owner[sid] = owner[j["id"]]
    exec_cpu = sum(s["cpu_s"] for s in stages)
    busy = covered([
        (j["submit"], j["end"]) for j in jobs if j["submit"] and j["end"]
    ])
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.input_bytes": sum(s["input_bytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.exec_cpu_s": exec_cpu,
        "spark.exec_run_s": sum(s["run_s"] for s in stages),
        "spark.plan_s": rec["plan_s"],
        "spark.jobs_busy_s": busy,
        "spark.driver_wait_s": rec["wall_s"] - busy,
        "jvm.residual_cpu_s": rec["cpu_s"] - exec_cpu,
        "jvm.gc_s": rec["jvm1"]["gc_s"] - rec["jvm0"]["gc_s"],
        "jvm.jit_s": rec["jvm1"]["jit_s"] - rec["jvm0"]["jit_s"],
    }
    m["spark.read_amp"] = m["spark.input_bytes"] / inputs.props["parquet_bytes"]
    for name in SPAN_BREAKDOWN:
        mine = [s for s in stages if stage_owner.get(s["id"]) == name]
        m[f"{name}.jobs"] = sum(1 for o in owner.values() if o == name)
        m[f"{name}.exec_cpu_s"] = sum(s["cpu_s"] for s in mine)
        m[f"{name}.shuffle_bytes"] = sum(
            s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in mine
        )
        m[f"{name}.self_s"] = sum(
            st for s, st in zip(sub, sub_self) if s.name == name
        )
    # profile plan construction: the outermost profile_* calls (lazy builds)
    m["profile.build_s"] = sum(
        s.duration
        for s in sub
        if s.name in ("profile.profile_table", "profile.profile_database")
        and (s.parent is None or not spans[s.parent].name.startswith("profile.profile_"))
    )
    m["catalog_sink.params_s"] = dur("catalog_sink.metrics_to_params")
    m["catalog_sink.params_rows"] = cnt("catalog_sink.metrics_to_params", "params_rows")
    m["catalog_sink.update_s"] = dur("catalog_sink.update_table_metadata") + dur(
        "catalog_sink.register_table"
    )
    flushes = [
        s.counts["bytes"]
        for s in sub
        if s.name in ("catalog_sink.update_table_metadata", "catalog_sink.register_table")
    ]
    m["catalog_sink.bytes_written"] = sum(flushes)
    m["catalog_sink.write_amp"] = sum(flushes) / flushes[-1] if flushes else 0.0
    m["parquet_sink.write_s"] = dur("parquet_sink.write_metrics_parquet")
    result = rec.get("result")  # None when the pass failed
    files = _dir_files(result[0]) if result and workload == "catalog_publish" else []
    m["parquet_sink.files"] = len(files)
    m["parquet_sink.bytes"] = sum(os.path.getsize(f) for f in files)
    m["dedup.minhash_s"] = dur("dedup.minhash")
    m["dedup.jaccard_s"] = dur("dedup.jaccard")
    m["dedup.eval_s"] = dur("dedup.eval")
    if result and workload == "dedup_documents":
        mh, jc, _ = result
        found = {(r["doc_a"], r["doc_b"]) for r in mh}
        m["dedup.minhash_pairs"] = len(mh)
        m["dedup.jaccard_pairs"] = len(jc)
        m["dedup.recall"] = sum(p in found for p in inputs.planted) / len(inputs.planted)
    else:
        m["dedup.minhash_pairs"] = m["dedup.jaccard_pairs"] = m["dedup.recall"] = 0
    return m


def _setup_metrics(spans) -> dict[str, float]:
    """Layer times of the run's cold set-up (JVM launch included)."""

    def in_setup(name):
        return sum(s.duration for s in spans if s.pass_id == "setup" and s.name == name)

    return {
        "session.build_s": in_setup("session.build"),
        "registry.load_s": in_setup("registry.read_parquet_table"),
        "profile.list_tables_s": in_setup("profile.list_catalog_tables"),
    }


UNITS = (
    (("_s",), "s"),
    (("bytes", "bytes_written"), "bytes"),
    (("_mb",), "MB"),
    (("_amp", "recall", "_ratio", "dup_share"), "ratio"),
)


def unit_of(name: str) -> str:
    for suffixes, unit in UNITS:
        if name.endswith(suffixes):
            return unit
    return "count"


def per_layer(tracer, first, steady, inputs, jvm_end, workload) -> dict:
    """name -> (value, unit) of every per-layer metric."""
    spans = tracer.spans
    selfs = self_times(spans)
    traced = [r for r in steady if r.get("traced")]
    untraced = [r for r in steady if not r.get("traced")]
    per_pass = [pass_metrics(spans, selfs, r, inputs, workload) for r in traced]
    m = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    m.update(_setup_metrics(spans))
    first_m = pass_metrics(spans, selfs, first, inputs, workload)
    m["jvm.first_pass_jit_s"] = first_m["jvm.jit_s"]
    m["jvm.codecache_mb"] = jvm_end["codecache_mb"]
    for k in ("wall_s", "cpu_s"):
        m[f"trace.overhead_{k}"] = statistics.median(
            r[k] for r in traced
        ) - statistics.median(r[k] for r in untraced)
    for k, v in inputs.props.items():
        m[f"input.{k}"] = v
    return {k: (v, unit_of(k)) for k, v in m.items()}
