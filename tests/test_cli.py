from __future__ import annotations

import json
import math
import os

import pytest

from data_profiler_for_aws_glue_data_catalog_spark import cli, sinks
from data_profiler_for_aws_glue_data_catalog_spark.cli import run
from data_profiler_for_aws_glue_data_catalog_spark.operators.profile import (
    catalog_tables,
    list_catalog_tables,
)
from data_profiler_for_aws_glue_data_catalog_spark.plans import session
from tests.conftest import SF_SMOKE


def test_cli_local_catalog_and_sinks(spark, tmp_path):
    df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    df.createOrReplaceTempView("cli_region")
    out = str(tmp_path / "metrics")
    cat_path = str(tmp_path / "catalog.json")
    rc = run(
        [
            "--dbName", "default",
            "--statsPrefix", "DQP",
            "--outputPrefix", out,
            "--catalogJson", cat_path,
        ],
        spark=spark,
    )
    assert rc == 0
    # parquet sink landed partitioned metrics for the temp view
    back = spark.read.parquet(out)
    assert back.where("table_name = 'cli_region'").count() > 0
    # local catalog got the delete-then-upsert parameters
    raw = json.load(open(cat_path))
    entry = raw["default"]["cli_region"]
    assert entry["parameters"]["DQP__Size"] == "5.0"
    assert entry["column_parameters"]["r_regionkey"]["DQP__Completeness"] == "1.0"


class _FakeGlueE2E:
    """boto3-glue-shaped fake for the full --region lifecycle: two pages
    of one table each, both resolving to session temp views; records
    every update_table call (Main.scala:164-254 remote path)."""

    def __init__(self):
        self.pages = {None: (["cli_nation"], "p2"), "p2": (["cli_region2"], None)}
        self.tables = {
            n: {
                "Name": n,
                "DatabaseName": "tpch",  # read-only: must be dropped
                "Parameters": {"owner": "team-data"},
                "StorageDescriptor": {"Columns": cols},
            }
            for n, cols in {
                "cli_nation": [
                    {"Name": "n_nationkey", "Type": "bigint"},
                    {"Name": "n_name", "Type": "string"},
                    {"Name": "n_regionkey", "Type": "bigint"},
                    {"Name": "n_comment", "Type": "string"},
                ],
                "cli_region2": [
                    {"Name": "r_regionkey", "Type": "bigint"},
                    {"Name": "r_name", "Type": "string"},
                    {"Name": "r_comment", "Type": "string"},
                ],
            }.items()
        }
        self.updated = {}

    def get_tables(self, DatabaseName, NextToken=None):
        names, nxt = self.pages[NextToken]
        resp = {"TableList": [{"Name": n} for n in names]}
        if nxt:
            resp["NextToken"] = nxt
        return resp

    def get_table(self, DatabaseName, Name):
        return {"Table": self.tables[Name]}

    def update_table(self, DatabaseName, TableInput):
        self.updated[TableInput["Name"]] = (DatabaseName, TableInput)


def test_cli_region_mode_end_to_end(spark, tmp_path):
    """--region lifecycle against the fake Glue client: paginated
    enumerate -> one profile per table -> parameter publish
    (delete-then-upsert TableInput) + Parquet metrics sink."""
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet").createOrReplaceTempView(
        "cli_nation"
    )
    spark.read.parquet("/root/testdata/sf0.001/region.parquet").createOrReplaceTempView(
        "cli_region2"
    )
    fake = _FakeGlueE2E()
    out = str(tmp_path / "metrics")
    rc = run(
        ["--dbName", "tpch", "--region", "eu-west-1", "--outputPrefix", out],
        spark=spark,
        glue_client=fake,
    )
    assert rc == 0
    # both pages of tables were profiled and published
    assert set(fake.updated) == {"cli_nation", "cli_region2"}
    db, ti = fake.updated["cli_nation"]
    assert db == "tpch"
    assert "DatabaseName" not in ti  # read-only field dropped
    assert ti["Parameters"]["owner"] == "team-data"  # user key survives
    assert ti["Parameters"]["DQP__Size"] == "25.0"
    cols = {c["Name"]: c for c in ti["StorageDescriptor"]["Columns"]}
    assert cols["n_name"]["Parameters"]["DQP__Completeness"] == "1.0"
    # parquet sink landed one partition per table
    back = spark.read.parquet(out)
    assert set(
        r["table_name"] for r in back.select("table_name").distinct().collect()
    ) == {"cli_nation", "cli_region2"}


def _jobs_in_group(spark, group, fn):
    """Ids of the Spark jobs ``fn()`` submits, via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _views(spark, **paths):
    for name, path in paths.items():
        spark.read.parquet(path).createOrReplaceTempView(name)


def test_cli_profiles_each_table_once_for_both_sinks(spark, tmp_path, monkeypatch):
    """Both sinks cost the catalog-only run's jobs plus the Parquet write's
    own: the profile executes once and both sinks read its rows."""
    _views(
        spark,
        cli_once_region=f"{SF_SMOKE}/region.parquet",
        cli_once_nation=f"{SF_SMOKE}/nation.parquet",
    )
    # only an unprofiled column: its metrics schema has a non-null value
    spark.range(2).selectExpr("current_date() AS d").createOrReplaceTempView(
        "cli_once_dates"
    )
    base = ["--dbName", "default", "--compExp", "true"]
    cat_only = _jobs_in_group(
        spark,
        "cli_catalog_only",
        lambda: run(base + ["--catalogJson", str(tmp_path / "a.json")], spark=spark),
    )

    write_jobs = set()
    write = sinks.write_metrics_parquet

    def write_in_own_group(*args, **kwargs):
        write_jobs.update(
            _jobs_in_group(spark, "cli_write", lambda: write(*args, **kwargs))
        )
        spark.sparkContext.setJobGroup("cli_both", "cli_both")

    monkeypatch.setattr(sinks, "write_metrics_parquet", write_in_own_group)
    out, cat_path = str(tmp_path / "metrics"), str(tmp_path / "b.json")
    both = _jobs_in_group(
        spark,
        "cli_both",
        lambda: run(base + ["--catalogJson", cat_path, "--outputPrefix", out], spark=spark),
    )
    assert cat_only and write_jobs
    # the write runs over the collected rows: its own jobs, no profile
    assert len(write_jobs) <= 2, sorted(write_jobs)
    # outside the write, both sinks cost what the catalog sink alone costs
    assert len(both) <= len(cat_only), (len(both), len(cat_only))

    # one execution feeds both sinks: every Parquet value equals the stored
    # catalog parameter
    raw = json.load(open(cat_path))["default"]
    rows = spark.read.parquet(out).collect()
    assert {r["table_name"] for r in rows} == set(raw)
    for r in rows:
        entry = raw[r["table_name"]]
        params = (
            entry["parameters"]
            if r["entity"] == "Dataset"
            else entry["column_parameters"][r["instance"]]
        )
        stored = float(params["DQP__" + r["name"]])
        if r["value"] is None or math.isnan(r["value"]):
            assert math.isnan(stored), r
        else:
            assert stored == r["value"], r


def test_catalog_listing_is_one_job_with_the_same_names(spark, tmp_path):
    """Enumeration returns the names ``Catalog.listTables`` returns, temp
    views resolved unqualified and metastore tables as ``db.name``, in at
    most one Spark job per call."""
    db = "cli_listing_db"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / db}'")
    _views(spark, cli_listing_view=f"{SF_SMOKE}/region.parquet")
    try:
        spark.range(3).write.saveAsTable(f"{db}.stored")
        expected = [t.name for t in spark.catalog.listTables(db)]
        assert {"stored", "cli_listing_view"} <= set(expected)

        names, frames = [], {}
        list_jobs = _jobs_in_group(
            spark, "cli_list", lambda: names.extend(list_catalog_tables(spark, db))
        )
        frame_jobs = _jobs_in_group(
            spark, "cli_frames", lambda: frames.update(catalog_tables(spark, db))
        )
        assert names == expected
        assert list(frames) == expected
        assert len(list_jobs) <= 1 and len(frame_jobs) <= 1, (list_jobs, frame_jobs)
        assert frames["stored"].count() == 3
        assert frames["cli_listing_view"].count() == 5
        assert list(catalog_tables(spark, db, ["stored"])) == ["stored"]
    finally:
        spark.catalog.dropTempView("cli_listing_view")
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_cli_catalog_json_creates_its_directory(spark, tmp_path):
    """``--catalogJson`` under a directory that does not exist yet is
    written, as ``--outputPrefix`` is."""
    _views(spark, cli_nested_region=f"{SF_SMOKE}/region.parquet")
    cat_path = tmp_path / "not" / "yet" / "catalog.json"
    try:
        rc = run(["--dbName", "default", "--catalogJson", str(cat_path)], spark=spark)
    finally:
        spark.catalog.dropTempView("cli_nested_region")
    assert rc == 0
    entry = json.load(open(cat_path))["default"]["cli_nested_region"]
    assert entry["parameters"]["DQP__Size"] == "5.0"


@pytest.mark.parametrize("mode", ["local", "region"])
def test_cli_failing_profile_publishes_nothing(spark, tmp_path, mode):
    """Profile-all-then-publish: a table whose profile raises leaves both
    sinks unwritten, including the tables profiled before it."""
    _views(spark, cli_fail_a=f"{SF_SMOKE}/region.parquet")
    spark.range(3).selectExpr(
        "id", "if(id > 1, raise_error('boom'), 'x') AS bad"
    ).createOrReplaceTempView("cli_fail_z")
    out, cat_path = str(tmp_path / "metrics"), str(tmp_path / "catalog.json")
    fake = _FakeGlueE2E()
    fake.pages = {None: (["cli_fail_a", "cli_fail_z"], None)}
    argv = ["--dbName", "default", "--outputPrefix", out]
    argv += ["--region", "eu-west-1"] if mode == "region" else ["--catalogJson", cat_path]
    try:
        with pytest.raises(Exception, match="boom"):
            run(argv, spark=spark, glue_client=fake)
    finally:
        spark.catalog.dropTempView("cli_fail_a")
        spark.catalog.dropTempView("cli_fail_z")
    assert not os.path.exists(out)
    assert not os.path.exists(cat_path)
    assert fake.updated == {}


def test_cli_session_confs_never_build_the_jar(tmp_path, monkeypatch):
    """Building the CLI's session runs no javac, even when the jar is
    missing next to a buildable source tree."""
    (tmp_path / "java").mkdir()
    (tmp_path / "java" / "build.sh").write_text("exit 1\n")
    jar = str(tmp_path / "jars" / "forkless-localfs.jar")
    monkeypatch.setattr(session, "_default_jar_path", lambda: jar)
    calls = []
    monkeypatch.setattr("subprocess.run", lambda *a, **k: calls.append(a))
    confs = cli.session_confs()
    assert calls == []
    assert "spark.hadoop.fs.file.impl" not in confs
    assert session.CODE_CACHE_FLAG in confs["spark.driver.extraJavaOptions"]
    # the engine recipe the benchmark harness applies still builds
    session.engine_session_confs()
    assert len(calls) == 1
