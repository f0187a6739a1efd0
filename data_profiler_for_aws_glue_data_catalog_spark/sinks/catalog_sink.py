"""Catalog metadata sink: metrics -> table/column parameters.

The reference's namesake feature writes each profiled metric into the Glue
Data Catalog as a string parameter keyed ``<statsPrefix>__<MetricName>``
(DataProfilerForAWSGlueDataCatalog.scala:203-229 builds the maps,
Glue.java:44-151 applies them). The update contract, reproduced here
against a local pluggable store:

- table-level parameters (from ``entity = 'Dataset'`` rows, Main.scala:206)
  are UPSERTED: existing keys overwritten, new keys added
  (Glue.java:67-80);
- column-level parameters (``entity = 'Column'`` rows): every existing
  parameter that starts with the stats prefix is DELETED first, then the
  new values are added (Glue.java:109-131) — so metrics from a previous
  run never survive as stale keys when the analyzer set shrinks;
- a metrics row for a column the catalog does not know is logged and
  skipped, never created (Glue.java:134-135);
- partition columns carry no parameters (Glue.java:89-99).

Spark-first difference: the reference materializes the metrics DataFrame
once per table and then runs one ``filter(instance = <col>).collect()``
per column — O(columns) driver round trips (Main.scala:214-225). Here the
(tiny, O(columns x metrics)-row) long relation is collected ONCE and
``metrics_to_params`` splits the collected rows driver-side, so a caller
that also writes the Parquet sink (cli.run) feeds both sinks from one
execution of the profile.
"""

from __future__ import annotations

import json
import logging
import math
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from data_profiler_for_aws_glue_data_catalog_spark.config import ProfilerConfig

logger = logging.getLogger(__name__)


def format_metric_value(v: float | None) -> str:
    """Canonical string form of a metric value for parameter storage.

    Integral doubles print as ``123.0`` (the common case: counts, sizes),
    everything else via ``repr`` (shortest round-trip form). NULL metrics
    (e.g. Mean of an all-null column) store as ``NaN`` — the reference
    stringifies Deequ's Double.NaN the same way.
    """
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NaN"
    return repr(float(v))


@dataclass
class _TableEntry:
    columns: list[str] = field(default_factory=list)
    parameters: dict[str, str] = field(default_factory=dict)
    column_parameters: dict[str, dict[str, str]] = field(default_factory=dict)
    partition_keys: list[str] = field(default_factory=list)


class LocalMetadataCatalog:
    """File/memory-backed stand-in for the remote catalog's table metadata.

    Holds, per (db, table): the column list (the "schema" the reference
    fetches with GetTable), free-form table parameters, and per-column
    parameters. ``path=None`` keeps everything in memory; otherwise state
    round-trips through one JSON document per catalog.
    """

    def __init__(self, path: str | None = None) -> None:
        self.path = path
        self._dbs: dict[str, dict[str, _TableEntry]] = {}
        if path and os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                raw = json.load(f)
            for db, tables in raw.items():
                self._dbs[db] = {
                    t: _TableEntry(**entry) for t, entry in tables.items()
                }

    # -- schema registration (the reference reads this from the catalog) --

    def register_table(
        self,
        db: str,
        table: str,
        columns: list[str],
        partition_keys: list[str] | None = None,
    ) -> None:
        self._dbs.setdefault(db, {})[table] = _TableEntry(
            columns=list(columns), partition_keys=list(partition_keys or [])
        )
        self._flush()

    def table(self, db: str, table: str) -> _TableEntry:
        return self._dbs[db][table]

    def list_tables(self, db: str) -> list[str]:
        return sorted(self._dbs.get(db, {}))

    # -- the update contract (Glue.java:44-151) --

    def update_table_metadata(
        self,
        db: str,
        table: str,
        stats_prefix: str,
        table_params: dict[str, str],
        columns_params: dict[str, dict[str, str]],
    ) -> None:
        entry = self.table(db, table)
        # table-level: plain upsert (Glue.java:69-78)
        entry.parameters.update(table_params)
        # column-level: delete <prefix>* then add (Glue.java:109-131);
        # partition columns excluded (Glue.java:89-99)
        updatable = set(entry.columns) - set(entry.partition_keys)
        for col, params in columns_params.items():
            if col not in updatable:
                logger.error("Column Not Found: %s", col)
                continue
            kept = {
                k: v
                for k, v in entry.column_parameters.get(col, {}).items()
                if not k.startswith(stats_prefix)
            }
            kept.update(params)
            entry.column_parameters[col] = kept
        self._flush()

    def _flush(self) -> None:
        if not self.path:
            return
        raw = {
            db: {t: vars(e) for t, e in tables.items()}
            for db, tables in self._dbs.items()
        }
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(raw, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def metrics_to_params(
    rows: Iterable, config: ProfilerConfig | None = None
) -> tuple[dict[str, str], dict[str, dict[str, str]]]:
    """Split one table's collected metrics rows into (table_params,
    columns_params).

    ``rows``: anything whose items index by ``entity``/``instance``/
    ``name``/``value`` — ``DataFrame.collect()`` Rows or
    ``toArrow().to_pylist()`` dicts. Keys are
    ``<stats_prefix>__<MetricName>`` (Main.scala:211,221).
    """
    config = config or ProfilerConfig()
    prefix = config.prefixed
    table_params: dict[str, str] = {}
    columns_params: dict[str, dict[str, str]] = {}
    for row in rows:
        key = prefix + row["name"]
        val = format_metric_value(row["value"])
        if row["entity"] == "Dataset":
            table_params[key] = val
        else:
            columns_params.setdefault(row["instance"], {})[key] = val
    return table_params, columns_params


def publish_profile(
    catalog: LocalMetadataCatalog,
    metrics: DataFrame,
    db: str,
    table: str,
    config: ProfilerConfig | None = None,
) -> None:
    """Profile-metrics -> catalog parameters for one table (ONE collect)."""
    config = config or ProfilerConfig()
    rows = metrics.select("entity", "instance", "name", "value").collect()
    table_params, columns_params = metrics_to_params(rows, config)
    catalog.update_table_metadata(
        db, table, config.prefixed, table_params, columns_params
    )
