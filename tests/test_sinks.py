from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark import ProfilerConfig, profile_database, profile_table
from data_profiler_for_aws_glue_data_catalog_spark.sinks import (
    LocalMetadataCatalog,
    format_metric_value,
    metrics_to_params,
    publish_profile,
    read_metrics_parquet,
    write_metrics_parquet,
)

RUN_TS = datetime(2026, 1, 2, 13, 45, 6)


@pytest.fixture(scope="module")
def region(spark):
    return spark.read.parquet("/root/testdata/sf0.001/region.parquet")


@pytest.fixture(scope="module")
def region_metrics(spark, region):
    return profile_table(region, ProfilerConfig(), include_approx=False)


# ---------------------------------------------------------- parquet sink


def test_parquet_sink_roundtrip(spark, region_metrics, tmp_path):
    out = str(tmp_path / "sink")
    write_metrics_parquet(
        region_metrics, out, db_name="tpch", table_name="region", run_ts=RUN_TS
    )
    back = read_metrics_parquet(spark, out)
    # read-back contract: metrics cols + 4 embedded cols + 2 partition cols
    assert set(back.columns) == {
        "entity", "instance", "name", "value", "type",
        "db_name_embed", "table_name_embed",
        "profiler_run_dt", "profiler_run_ts",
        "db_name", "table_name",
    }
    rows = back.collect()
    assert len(rows) == region_metrics.count()
    r = rows[0]
    assert r["db_name"] == "tpch" and r["table_name"] == "region"
    assert r["db_name_embed"] == "tpch" and r["table_name_embed"] == "region"
    assert str(r["profiler_run_dt"]) == "2026-01-02"
    # 24-hour formatting (HH fix over the reference's hh:mm:ss)
    assert r["profiler_run_ts"] == RUN_TS
    # metric values survive the round trip bit-exactly
    orig = {(x["instance"], x["name"]): x["value"] for x in region_metrics.collect()}
    got = {(x["instance"], x["name"]): x["value"] for x in rows}
    assert got == orig


def test_parquet_sink_append_accumulates(spark, region_metrics, tmp_path):
    out = str(tmp_path / "sink")
    n = region_metrics.count()
    for ts in (RUN_TS, datetime(2026, 1, 3, 1, 2, 3)):
        write_metrics_parquet(
            region_metrics, out, db_name="tpch", table_name="region", run_ts=ts
        )
    back = read_metrics_parquet(spark, out)
    assert back.count() == 2 * n
    # runs separable by profiler_run_ts (the reference's reader contract)
    assert back.select("profiler_run_ts").distinct().count() == 2


def test_parquet_sink_database_layout(spark, tmp_path):
    tables = {
        t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        for t in ("region", "nation")
    }
    m = profile_database(tables, ProfilerConfig(), include_approx=False)
    out = str(tmp_path / "sink")
    write_metrics_parquet(m, out, db_name="tpch", run_ts=RUN_TS)
    import os

    assert sorted(os.listdir(out + "/db_name=tpch")) == [
        "table_name=nation",
        "table_name=region",
    ]
    back = read_metrics_parquet(spark, out)
    per_table = dict(
        back.groupBy("table_name").count().collect()
    )
    assert set(per_table) == {"region", "nation"}
    # one file per table partition (the reference's coalesce(1) layout)
    for t in ("region", "nation"):
        files = [
            f
            for f in os.listdir(f"{out}/db_name=tpch/table_name={t}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, files


# ---------------------------------------------------------- catalog sink


def test_metrics_to_params_split(region_metrics):
    tp, cp = metrics_to_params(region_metrics.collect(), ProfilerConfig())
    assert tp == {"DQP__Size": "5.0"}
    assert set(cp) == {"r_regionkey", "r_name"}
    assert cp["r_regionkey"]["DQP__Completeness"] == "1.0"
    assert cp["r_regionkey"]["DQP__Maximum"] == "4.0"
    # every key carries the prefix
    for params in cp.values():
        assert all(k.startswith("DQP__") for k in params)


def test_format_metric_value():
    assert format_metric_value(5.0) == "5.0"
    assert format_metric_value(0.25) == "0.25"
    assert format_metric_value(None) == "NaN"
    assert format_metric_value(float("nan")) == "NaN"


def test_catalog_upsert_contract(region_metrics):
    cat = LocalMetadataCatalog()
    cat.register_table("tpch", "region", ["r_regionkey", "r_name"])
    # plant state a previous profiler run and a user would have left
    entry = cat.table("tpch", "region")
    entry.parameters["owner"] = "team-data"
    entry.parameters["DQP__Size"] = "999.0"
    entry.column_parameters["r_name"] = {
        "DQP__StaleMetric": "1.0",  # must be deleted (prefix match)
        "comment": "user note",     # must survive (no prefix)
    }
    publish_profile(cat, region_metrics, "tpch", "region", ProfilerConfig())
    # table level: upsert — user key survives, profiler key overwritten
    assert entry.parameters["owner"] == "team-data"
    assert entry.parameters["DQP__Size"] == "5.0"
    # column level: delete-then-upsert — stale profiler key gone, user kept
    assert "DQP__StaleMetric" not in entry.column_parameters["r_name"]
    assert entry.column_parameters["r_name"]["comment"] == "user note"
    assert entry.column_parameters["r_name"]["DQP__Completeness"] == "1.0"


def test_catalog_unknown_column_skipped(region_metrics, caplog):
    cat = LocalMetadataCatalog()
    cat.register_table("tpch", "region", ["r_regionkey"])  # others unknown
    publish_profile(cat, region_metrics, "tpch", "region")
    entry = cat.table("tpch", "region")
    assert set(entry.column_parameters) == {"r_regionkey"}


def test_catalog_partition_columns_excluded(region_metrics):
    cat = LocalMetadataCatalog()
    cat.register_table(
        "tpch", "region", ["r_regionkey", "r_name"], partition_keys=["r_name"]
    )
    publish_profile(cat, region_metrics, "tpch", "region")
    assert "r_name" not in cat.table("tpch", "region").column_parameters


def test_catalog_json_roundtrip(region_metrics, tmp_path):
    path = str(tmp_path / "catalog.json")
    cat = LocalMetadataCatalog(path)
    cat.register_table("tpch", "region", ["r_regionkey", "r_name"])
    publish_profile(cat, region_metrics, "tpch", "region")
    cat2 = LocalMetadataCatalog(path)
    assert cat2.list_tables("tpch") == ["region"]
    assert (
        cat2.table("tpch", "region").column_parameters
        == cat.table("tpch", "region").column_parameters
    )
    # second publish over the reloaded catalog replaces, not duplicates
    publish_profile(cat2, region_metrics, "tpch", "region")
    assert (
        cat2.table("tpch", "region").column_parameters
        == cat.table("tpch", "region").column_parameters
    )


# ------------------------------------------------------ glue catalog sink


class _FakeGlue:
    """boto3-glue-shaped fake: three pages of tables + one mutable table."""

    def __init__(self):
        self.pages = {
            None: (["t1", "t2"], "p2"),
            "p2": (["t3"], "p3"),
            "p3": (["t4"], None),
        }
        self.table = {
            "Name": "region",
            "DatabaseName": "tpch",          # read-only: must be dropped
            "CreateTime": "2020-01-01",      # read-only: must be dropped
            "Parameters": {"owner": "team-data", "DQP__Size": "999.0"},
            "PartitionKeys": [{"Name": "dt", "Type": "string"}],
            "StorageDescriptor": {
                "Columns": [
                    {"Name": "r_regionkey ", "Type": "int"},  # padded name
                    {
                        "Name": "r_name",
                        "Type": "string",
                        "Parameters": {
                            "DQP__Stale": "1.0",
                            "comment": "user note",
                        },
                    },
                ]
            },
        }
        self.updated = None

    def get_tables(self, DatabaseName, NextToken=None):
        names, nxt = self.pages[NextToken]
        resp = {"TableList": [{"Name": n} for n in names]}
        if nxt:
            resp["NextToken"] = nxt
        return resp

    def get_table(self, DatabaseName, Name):
        return {"Table": self.table}

    def update_table(self, DatabaseName, TableInput):
        self.updated = (DatabaseName, TableInput)


def test_glue_list_tables_paginates():
    from data_profiler_for_aws_glue_data_catalog_spark.sinks.glue_catalog import GlueMetadataCatalog

    cat = GlueMetadataCatalog(client=_FakeGlue())
    # the reference reads only the first page; we must see all four
    assert cat.list_tables("tpch") == ["t1", "t2", "t3", "t4"]


def test_glue_update_contract():
    from data_profiler_for_aws_glue_data_catalog_spark.sinks.glue_catalog import GlueMetadataCatalog

    fake = _FakeGlue()
    cat = GlueMetadataCatalog(client=fake)
    cat.update_table_metadata(
        "tpch",
        "region",
        "DQP__",
        {"DQP__Size": "5.0"},
        {
            "r_regionkey": {"DQP__Completeness": "1.0"},
            "r_name": {"DQP__Completeness": "1.0"},
            "ghost_col": {"DQP__Completeness": "1.0"},  # unknown: skipped
        },
    )
    db, ti = fake.updated
    assert db == "tpch"
    # read-only fields dropped from the TableInput copy
    assert "DatabaseName" not in ti and "CreateTime" not in ti
    # table-level upsert: user key survives, stale profiler key overwritten
    assert ti["Parameters"] == {"owner": "team-data", "DQP__Size": "5.0"}
    cols = {c["Name"].strip(): c for c in ti["StorageDescriptor"]["Columns"]}
    # trimmed-name match reached the padded column
    assert cols["r_regionkey"]["Parameters"] == {"DQP__Completeness": "1.0"}
    # delete-then-upsert: stale prefixed key gone, user comment kept
    assert cols["r_name"]["Parameters"] == {
        "comment": "user note",
        "DQP__Completeness": "1.0",
    }


def test_compact_parquet_balances_files(spark, tmp_path):
    from data_profiler_for_aws_glue_data_catalog_spark.sinks.parquet_sink import compact_parquet
    from pyspark.sql import functions as F

    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "compacted")
    back = compact_parquet(df, out, target_files=4)
    files = [
        r["_f"]
        for r in back.select(F.input_file_name().alias("_f")).distinct().collect()
    ]
    assert len(files) == 4
    assert back.count() == 10000
    per_file = (
        back.select(F.input_file_name().alias("_f"))
        .groupBy("_f").count().collect()
    )
    counts = [r["count"] for r in per_file]
    # round-robin is near-even (each input partition deals independently,
    # so exact +-1 balance isn't guaranteed) — no file may dominate
    assert max(counts) < 2 * min(counts)


def test_compact_parquet_bytes_policy(spark, tmp_path):
    from data_profiler_for_aws_glue_data_catalog_spark.sinks.parquet_sink import compact_parquet

    df = spark.range(100)
    back = compact_parquet(
        df, str(tmp_path / "c2"), input_bytes=300 * 1024 * 1024,
        target_file_bytes=128 * 1024 * 1024,
    )  # ceil(300/128) = 3 files
    from pyspark.sql import functions as F
    n = back.select(F.input_file_name()).distinct().count()
    assert n == 3
