"""Application entry point — the reference CLI re-expressed.

Same argument surface as the reference (CommandLineArgs.scala:21-30,
option registration at DataProfilerForAWSGlueDataCatalog.scala:80-127), with the
local/remote split made explicit:

    python -m data_profiler_for_aws_glue_data_catalog_spark.cli \
        --dbName mydb [--region eu-west-1] [--compExp true] \
        [--statsPrefix DQP] [--outputPrefix /path/or/s3a/prefix] \
        [--profileUnsupportedTypes true] [--noOfBins 10] [--quantiles 10] \
        [--catalogJson /path/metadata.json]

Lifecycle parity with runProfiler (Main.scala:164-254), in three phases:

1. enumerate tables — ``--region`` set: remote Glue catalog (paginated,
   boto3 import-gated); otherwise ONE ``SHOW TABLES`` listing of the
   session catalog;
2. profile — each table's ``profile_table`` plan executes exactly ONCE,
   collected JVM-side with ``DataFrame.toArrow()`` (the metrics relation
   is tiny: columns x metrics rows);
3. publish — both sinks read those collected rows, never the lazy plan:
   the catalog parameter sink (remote Glue, or the local JSON store at
   ``--catalogJson``) per table, and, when ``--outputPrefix`` is set, ONE
   partitioned Parquet write for the whole database (the reference's
   ``--s3BucketPrefix``; any Hadoop-visible URI works: local path, s3a://,
   hdfs://) from a local DataFrame built over the concatenated Arrow
   tables.

All or nothing: every table is profiled before anything is published, so
a table whose profile raises leaves both sinks unwritten (the reference
publishes table by table and leaves the tables before the failure
published). Publication itself is not transactional — a sink that fails
midway leaves the tables it already wrote.

Differences from the reference, all deliberate: 24-hour run timestamps
(their ``hh:mm:ss`` folds PM onto AM), full Glue pagination (they profile
only the first page), one collect per table feeding both sinks (they
collect once per column and execute the profile again for the S3 write).
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig


def _bool(v: str) -> bool:
    return v.strip().lower() == "true"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="data_profiler_for_aws_glue_data_catalog_spark",
        description="Profile every table of a database into metric "
        "statistics; publish to catalog parameters and/or Parquet.",
    )
    p.add_argument("-d", "--dbName", required=True, help="database name")
    p.add_argument(
        "-r", "--region", default="",
        help="AWS region; set to use the remote Glue catalog (needs boto3), "
        "empty = local session catalog",
    )
    p.add_argument(
        "-c", "--compExp", type=_bool, default=False,
        help="true adds the expensive frequency metrics (default false)",
    )
    p.add_argument("-p", "--statsPrefix", default="DQP")
    p.add_argument(
        "-s", "--outputPrefix", default="",
        help="metrics Parquet sink root (reference: --s3BucketPrefix); "
        "empty = no Parquet output",
    )
    p.add_argument(
        "-u", "--profileUnsupportedTypes", type=_bool, default=False,
        help="true profiles boolean/date (and timestamp) columns as text",
    )
    p.add_argument("-b", "--noOfBins", type=int, default=10)
    p.add_argument("-q", "--quantiles", type=int, default=10)
    p.add_argument(
        "--catalogJson", default="",
        help="local metadata store path for parameter publication when no "
        "--region is given; empty = skip parameter publication",
    )
    return p


def session_confs() -> dict:
    """The CLI session recipe: the engine's perf contract (fork-free local
    file ops + long-session JVM code-cache sizing, plans/session.py)
    without ever building the forkless-FS jar — starting the CLI runs no
    javac. Graceful when the jar is absent: behavior identical, only
    slower on fork-heavy paths."""
    from data_profiler_for_aws_glue_data_catalog_spark.plans.session import (
        engine_session_confs,
    )

    return engine_session_confs(build=False)


def _glue_tables(spark, glue, db: str, injected_client: bool) -> dict:
    """``{name: DataFrame}`` for the tables the Glue catalog lists."""
    from pyspark.errors import AnalysisException

    frames = {}
    for n in glue.list_tables(db):
        try:
            frames[n] = spark.table(f"{db}.{n}")
        except AnalysisException:
            # session without a Hive mapping for the Glue db (tests,
            # notebook temp views): fall back to the bare name — but
            # only when a caller injected a fake client; in production
            # a same-named temp view would silently shadow the Glue
            # table and its stats would be published back to Glue
            if not injected_client:
                raise
            print(
                f"warning: {db}.{n} not resolvable in this session; "
                f"falling back to bare table/view name {n!r}",
                file=sys.stderr,
            )
            frames[n] = spark.table(n)
    return frames


def run(argv: list[str] | None = None, spark=None, glue_client=None) -> int:
    """Parse args and execute the enumerate -> profile -> publish lifecycle.

    ``glue_client`` injects a boto3-glue-shaped client into the
    ``--region`` path (tests use a fake; production leaves it None and
    GlueMetadataCatalog builds the real boto3 client)."""
    args = build_parser().parse_args(argv)
    config = ProfilerConfig(
        compute_expensive=args.compExp,
        stats_prefix=args.statsPrefix,
        profile_unsupported_types=args.profileUnsupportedTypes,
        profile_timestamps=args.profileUnsupportedTypes,
        n_bins=args.noOfBins,
        n_quantiles=args.quantiles,
    )

    if spark is None:
        from pyspark.sql import SparkSession

        builder = SparkSession.builder.appName(
            "data_profiler_for_aws_glue_data_catalog_spark"
        )
        for k, v in session_confs().items():
            builder = builder.config(k, v)
        spark = builder.enableHiveSupport().getOrCreate()

    import pyarrow as pa

    from data_profiler_for_aws_glue_data_catalog_spark.operators.profile import (
        catalog_tables,
        profile_table,
    )
    from data_profiler_for_aws_glue_data_catalog_spark.sinks import (
        catalog_sink,
        write_metrics_parquet,
    )

    db = args.dbName

    # 1. enumerate
    glue = None
    if args.region:
        from data_profiler_for_aws_glue_data_catalog_spark.sinks.glue_catalog import GlueMetadataCatalog

        glue = GlueMetadataCatalog(client=glue_client, region=args.region)
        frames = _glue_tables(spark, glue, db, glue_client is not None)
    else:
        frames = catalog_tables(spark, db)

    # 2. profile: each table's plan executes once, before any publication
    profiles = {
        name: profile_table(df, config).toArrow() for name, df in frames.items()
    }

    # 3. publish, from the collected rows only
    catalog = glue
    if glue is None and args.catalogJson:
        catalog = catalog_sink.LocalMetadataCatalog(args.catalogJson)
    if catalog is not None:
        for name, metrics in profiles.items():
            table_params, columns_params = catalog_sink.metrics_to_params(
                metrics.to_pylist(), config
            )
            if glue is None and name not in catalog.list_tables(db):
                catalog.register_table(db, name, frames[name].columns)
            catalog.update_table_metadata(
                db, name, config.prefixed, table_params, columns_params
            )
    if args.outputPrefix and profiles:
        database = pa.concat_tables(
            [
                t.append_column("table_name", pa.array([name] * t.num_rows, pa.string()))
                for name, t in profiles.items()
            ],
            # per-table schemas can differ in field nullability only
            promote_options="default",
        )
        write_metrics_parquet(
            spark.createDataFrame(database),
            args.outputPrefix,
            db,
            run_ts=datetime.now(timezone.utc),
        )
    return 0


if __name__ == "__main__":
    sys.exit(run())
