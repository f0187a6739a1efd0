"""The long/narrow metrics relation — the engine's output data model.

Mirrors Deequ's ``successMetricsAsDataFrame`` shape
(DataProfilerForAWSGlueDataCatalog.scala:297):

    entity   string  -- 'Dataset' | 'Column'
    instance string  -- '*' for dataset-level metrics, else column name
    name     string  -- metric name, e.g. 'Completeness', 'ApproxQuantiles-0.1'
    value    double  -- the metric; histogram bin LABELS live in `name`,
                        never in `value`
    type     string  -- column's catalog type string (reference attaches it
                        via a left join, Main.scala:299-303; we embed it at
                        expression-build time — no join, no extra job)

Everything the engine emits flattens into this schema, so sinks and the
correctness oracle have one stable contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

METRICS_SCHEMA = StructType(
    [
        StructField("entity", StringType()),
        StructField("instance", StringType()),
        StructField("name", StringType()),
        StructField("value", DoubleType()),
        StructField("type", StringType()),
    ]
)

METRIC_COLS = [f.name for f in METRICS_SCHEMA.fields]


def empty_metrics(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], METRICS_SCHEMA)


def metric_struct(entity: str, instance: str, name, value, col_type: str | None):
    """Build one metrics-row struct (name/value may be Columns).

    Dataset-level rows carry NULL type, matching the reference where the
    schema left-join never matches instance='*' (Main.scala:299-303).
    """
    name_col = name if not isinstance(name, str) else F.lit(name)
    return F.struct(
        F.lit(entity).alias("entity"),
        F.lit(instance).alias("instance"),
        name_col.alias("name"),
        value.cast("double").alias("value"),
        F.lit(col_type).cast("string").alias("type"),
    )


def sql_str(v: str) -> str:
    """Single-quoted Spark-SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def duck_str(v: str) -> str:
    """Single-quoted DuckDB string literal (quotes doubled, no escapes)."""
    return "'" + v.replace("'", "''") + "'"


def sql_ident(c: str) -> str:
    """Backtick-quoted Spark-SQL column reference."""
    return "`" + c.replace("`", "``") + "`"


def metric_struct_sql(
    entity: str, instance: str, name: str, value_sql: str, col_type: str | None
) -> str:
    """SQL-string twin of :func:`metric_struct` (same fields, same types).

    Metric expression builders emit SQL text instead of Column trees
    because every Column method call is a py4j round trip: a wide table's
    profile plan is tens of thousands of calls (~19 s of pure driver time
    for 10 tables at sf0.1, measured), while string assembly is free and
    the whole batch parses in ONE call. Catalyst sees identical expression
    trees either way.
    """
    t = sql_str(col_type) if col_type is not None else "CAST(NULL AS string)"
    return (
        f"named_struct('entity', {sql_str(entity)}, "
        f"'instance', {sql_str(instance)}, "
        f"'name', {sql_str(name)}, "
        f"'value', CAST(({value_sql}) AS double), "
        f"'type', {t})"
    )
