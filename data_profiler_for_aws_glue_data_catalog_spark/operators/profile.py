"""Profile orchestration: table -> metrics relation, database -> union.

Replaces the reference lifecycle (runProfiler + computeProfilerStats,
DataProfilerForAWSGlueDataCatalog.scala:164-311) with a lazily-composed
plan: profile_table returns ONE DataFrame that unions

  - the fused scan-agg pass (scan_metrics.py; 1 job per ~64 columns), and
  - per expensive text column, the shared-frequency-table metrics
    (frequency_metrics.py; 1 shuffle per column, reused by its 2 consumers).

Because the result is a single lazy plan, one action executes every branch
as independent stage chains that the DAG scheduler runs CONCURRENTLY —
strictly better than the reference's sequential per-analyzer loop and than
driver-side thread pools (SURVEY.md §4.3c).

The reference's O(columns) anti-patterns are gone by construction: no
per-column union to build a schema DF (types are embedded at
expression-build time), no per-column filter+collect round trips (sinks
take the long relation whole).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig
from data_profiler_for_aws_glue_data_catalog_spark.operators import types as T
from data_profiler_for_aws_glue_data_catalog_spark.operators.frequency_metrics import (
    frequency_metrics_long,
)
from data_profiler_for_aws_glue_data_catalog_spark.operators.scan_metrics import (
    scan_metrics_long,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import (
    METRIC_COLS,
)


def profile_table(
    df: DataFrame,
    config: ProfilerConfig | None = None,
    include_approx: bool = True,
) -> DataFrame:
    """Profile one table into the long metrics relation (lazy).

    Analyzer selection parity (Main.scala:274,282-293,314-348): Size always;
    Completeness/ApproxCountDistinct on every profiled column; Min/MaxLength
    on text; the 7 numeric metrics on numerics; the 6 frequency metrics on
    text only when ``compute_expensive``.
    """
    config = config or ProfilerConfig()
    out = scan_metrics_long(df, config, include_approx=include_approx)
    if config.compute_expensive:
        casted = T.cast_convertibles(df, config)
        for f in casted.schema.fields:
            if T.classify(f.dataType, config) == T.TEXT:
                out = out.unionByName(
                    frequency_metrics_long(
                        casted, f.name, f.dataType.simpleString(), config
                    )
                )
    return out.select(*METRIC_COLS)


def profile_database(
    tables: Mapping[str, DataFrame],
    config: ProfilerConfig | None = None,
    include_approx: bool = True,
) -> DataFrame:
    """Profile a set of tables; adds a ``table_name`` column.

    ``tables`` is any name->DataFrame mapping (see sources.registry for
    building one from a parquet directory or the session catalog). The
    result is one lazy union — a single action profiles the whole database
    with all per-table stage chains scheduled concurrently.
    """
    out: DataFrame | None = None
    for name, df in tables.items():
        m = profile_table(df, config, include_approx=include_approx).withColumn(
            "table_name", F.lit(name)
        )
        out = m if out is None else out.unionByName(m)
    if out is None:
        raise ValueError("profile_database: no tables given")
    return out


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _show_tables(spark: SparkSession, db_name: str) -> list[tuple[str, str]]:
    """``(name, resolvable name)`` per table of a catalog database, from
    ONE collect of ``SHOW TABLES`` — a command result, no Spark job.
    (``Catalog.listTables`` drains a ``toLocalIterator``: 3 jobs a call.)

    Temp views come back with an empty namespace and resolve unqualified;
    metastore tables resolve as ``db.name``.
    """
    rows = spark.sql(f"SHOW TABLES IN {_quoted(db_name)}").collect()
    return [
        (
            r.tableName,
            f"{_quoted(r.namespace)}.{_quoted(r.tableName)}"
            if r.namespace
            else _quoted(r.tableName),
        )
        for r in rows
    ]


def list_catalog_tables(spark: SparkSession, db_name: str) -> list[str]:
    """Table names of a catalog database (Main.scala:188-190 local path).

    Unlike the reference's Glue enumeration (Glue.java:154-171) this is not
    limited to the first result page — the catalog API returns all tables.
    """
    return [name for name, _ in _show_tables(spark, db_name)]


def catalog_tables(
    spark: SparkSession, db_name: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """``{name: DataFrame}`` for the tables of a catalog database, from ONE
    listing (resolution as in :func:`_show_tables`). ``names`` optionally
    restricts the result to a subset.
    """
    return {
        name: spark.table(qualified)
        for name, qualified in _show_tables(spark, db_name)
        if names is None or name in names
    }


def profile_catalog_database(
    spark: SparkSession,
    db_name: str,
    config: ProfilerConfig | None = None,
    include_approx: bool = True,
    names: list[str] | None = None,
) -> DataFrame:
    """Profile every table of a metastore/catalog database by name
    (resolution as in :func:`catalog_tables`). ``names`` optionally
    restricts the run to a subset (the reference always profiles the full
    database, Main.scala:188-195).
    """
    tables = catalog_tables(spark, db_name, names)
    return profile_database(tables, config, include_approx=include_approx)
