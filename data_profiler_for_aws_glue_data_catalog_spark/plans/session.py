"""Engine session configuration helpers.

The engine itself never *requires* a particular SparkSession — every
operator takes the caller's session — but some configuration is part of
the engine's performance contract rather than the benchmark harness's,
and belongs here so every entry point (CLI, bench, user code) can apply
it uniformly.

forkless_fs_confs (r9/r10)
--------------------------
Without libhadoop.so, Hadoop's RawLocalFileSystem shells out (fork/exec
of /bin/chmod, /bin/readlink) on every local file create/mkdir/rename —
measured ~11,500 subprocess forks costing ~90 s of process-tree CPU for
ONE stream-stream join query's checkpoint traffic, invisible in stage
metrics (the cost lands in the JVM's process-reaper thread). The
java/forklessfs shim (built from public Hadoop APIs only) applies the
identical permission bits via java.nio. Scope: only the file:// scheme;
on a real cluster (HDFS/S3 checkpoints) it binds the same local scratch
scheme and is otherwise inert. Graceful absence: when the jar is not
present (e.g. the package installed without the repo checkout) the
helper returns {} and the stock filesystem is used — results identical,
only slower on fork-heavy paths.
"""

from __future__ import annotations

import os
import re


def _default_jar_path() -> str:
    """jars/forkless-localfs.jar next to the package (repo layout)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_root), "jars", "forkless-localfs.jar")


CODE_CACHE_FLAG = "-XX:ReservedCodeCacheSize=512m"


def long_session_jvm_confs() -> dict:
    """JVM sizing for a LONG-LIVED driver running many distinct queries.

    Every distinct query compiles whole-stage-codegen classes; a session
    that cycles hundreds of distinct plans (a 181-query bench loop, a
    profiling service, a notebook that lives for days) accumulates and
    churns far more JIT-compiled code than the JVM's default 240 MB
    ReservedCodeCacheSize anticipates. Near capacity, the sweeper mass-
    flushes warm methods and hot paths drop back to the bytecode
    interpreter until recompiled — observed in r10 as *episodic* multi-
    minute windows where previously sub-second queries ran 10-100x slow
    with healthy GC and no long stages (plans/r10 diagnosis in
    OPTIMIZATION_r10.md). A 512 MB code cache is the standard remedy for
    codegen-heavy Spark drivers; it costs virtual memory only until used.

    Must be set at JVM launch (session builder), not on a live session.
    A builder conf REPLACES the ``spark-defaults.conf`` value, so the
    flag is appended to the user's existing
    ``spark.driver.extraJavaOptions`` (read from ``$SPARK_CONF_DIR``,
    else ``$SPARK_HOME/conf``), and a user-chosen
    ``ReservedCodeCacheSize`` is left as it is.
    """
    key = "spark.driver.extraJavaOptions"
    existing = _spark_defaults().get(key, "")
    if "ReservedCodeCacheSize" in existing:
        return {key: existing}
    return {key: f"{existing} {CODE_CACHE_FLAG}".strip()}


def _spark_defaults() -> dict[str, str]:
    """Properties of the ``spark-defaults.conf`` spark-submit would load:
    ``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``; {} when there is none.
    Lines are ``key value`` (or ``key=value``); ``#``/``!`` start comments.
    """
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if not conf_dir and os.environ.get("SPARK_HOME"):
        conf_dir = os.path.join(os.environ["SPARK_HOME"], "conf")
    path = os.path.join(conf_dir or "", "spark-defaults.conf")
    if not conf_dir or not os.path.isfile(path):
        return {}
    props = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line[0] in "#!":
                continue
            m = re.match(r"([^\s=:]+)\s*[\s=:]\s*(.*)", line)
            if m:
                props[m.group(1)] = m.group(2).strip()
    return props


def forkless_fs_confs(jar: str | None = None, build: bool = True) -> dict:
    """Spark confs binding the fork-free local filesystem, or {} when the
    jar is absent and cannot be built (no JDK / no repo checkout).

    Both bindings are required: batch writers resolve file:// through
    FileSystem (fs.file.impl), Structured Streaming's checkpoint manager
    through FileContext/AbstractFileSystem (fs.AbstractFileSystem.file.impl)
    — missing either leaves that path's forks in place.
    """
    jar = jar or _default_jar_path()
    if not os.path.exists(jar) and build:
        import subprocess

        build_sh = os.path.join(
            os.path.dirname(os.path.dirname(jar)), "java", "build.sh"
        )
        if os.path.exists(build_sh):
            try:
                subprocess.run(
                    ["sh", build_sh], check=True, capture_output=True, timeout=120
                )
            except Exception:
                return {}
    if not os.path.exists(jar):
        return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": "forklessfs.ForklessLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "forklessfs.ForklessLocalFs",
    }


def engine_session_confs(build: bool = True) -> dict:
    """All engine-recommended session confs: forkless local FS (when the
    jar is available) + long-session JVM sizing. Applied by the CLI
    session recipe and the bench harness; user sessions can apply the
    same dict. ``build=False`` never runs the jar's javac build (the CLI:
    building a session must have no side effects)."""
    confs = dict(long_session_jvm_confs())
    confs.update(forkless_fs_confs(build=build))
    return confs
