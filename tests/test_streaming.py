from __future__ import annotations

import math
import os
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.streaming import (
    stream_exact_dedup,
    stream_occurrence_index,
    windowed_profile,
    windowed_profile_stream,
)


def _mk_events(spark):
    # two full hourly windows + one event in a third
    rows = [
        (datetime(2024, 1, 1, 0, 10), 1.0, "a"),
        (datetime(2024, 1, 1, 0, 20), 3.0, "bb"),
        (datetime(2024, 1, 1, 1, 5), 10.0, None),
        (datetime(2024, 1, 1, 1, 55), None, "cccc"),
        (datetime(2024, 1, 1, 2, 0), 7.0, "d"),
        (None, 99.0, "ignored"),  # NULL ts -> no window
    ]
    return spark.createDataFrame(rows, "ts timestamp, v double, s string")


def _key(rows):
    return {
        (str(r["window_start"]), r["instance"], r["name"]): r["value"]
        for r in rows
    }


def test_windowed_profile_values(spark):
    df = _mk_events(spark)
    out = windowed_profile(df, "ts", "1 hour")
    m = _key(out.collect())
    w0 = "2024-01-01 00:00:00"
    w1 = "2024-01-01 01:00:00"
    w2 = "2024-01-01 02:00:00"
    assert m[(w0, "*", "Size")] == 2.0
    assert m[(w1, "*", "Size")] == 2.0
    assert m[(w2, "*", "Size")] == 1.0
    # NULL-ts row contributes to no window
    assert sum(v for (ws, i, n), v in m.items() if n == "Size") == 5.0
    assert m[(w0, "v", "Sum")] == 4.0
    assert m[(w0, "v", "Mean")] == 2.0
    assert abs(m[(w0, "v", "StandardDeviation")] - 1.0) < 1e-12
    assert m[(w1, "v", "Completeness")] == 0.5
    assert m[(w1, "v", "Sum")] == 10.0
    assert m[(w1, "v", "StandardDeviation")] == 0.0
    assert m[(w0, "s", "MaxLength")] == 2.0
    assert m[(w0, "s", "MinLength")] == 1.0
    assert m[(w1, "s", "MaxLength")] == 4.0
    # window bounds are duration apart
    r = out.where(F.col("instance") == "*").select(
        "window_start", "window_end"
    ).first()
    assert (r["window_end"] - r["window_start"]).total_seconds() == 3600


def test_windowed_profile_one_shuffle(spark):
    df = _mk_events(spark)
    plan = windowed_profile(df, "ts", "1 hour")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_windowed_profile_approx_distinct(spark):
    df = _mk_events(spark)
    m = _key(windowed_profile(df, "ts", "1 hour", approx_distinct=True).collect())
    # exact small cardinalities: HLL++ is exact at these sizes
    assert m[("2024-01-01 00:00:00", "v", "ApproxCountDistinct")] == 2.0
    assert m[("2024-01-01 01:00:00", "s", "ApproxCountDistinct")] == 1.0


def _mk_doc_stream(spark, tmp_path, name):
    # ids 1..6; contents: A appears 3x (ids 1,3,5), B 2x (2,6), C once (4)
    rows = [
        (1, "alpha beta", datetime(2024, 1, 1, 0, 0)),
        (2, "gamma", datetime(2024, 1, 1, 0, 1)),
        (3, "Alpha  BETA!", datetime(2024, 1, 1, 0, 2)),  # normalizes = A
        (4, "delta epsilon", datetime(2024, 1, 1, 0, 3)),
        (5, "alpha beta", datetime(2024, 1, 1, 0, 4)),
        (6, "gamma", datetime(2024, 1, 1, 0, 5)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, ts timestamp")
    src = str(tmp_path / f"{name}_src")
    df.coalesce(1).write.parquet(src)
    return df, spark.readStream.schema(df.schema).parquet(src)


def _run_stream(out, tmp_path, name):
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_exact_dedup(spark, tmp_path):
    _, stream = _mk_doc_stream(spark, tmp_path, "sded")
    _run_stream(stream_exact_dedup(stream), tmp_path, "sded_out")
    got = spark.table("sded_out").collect()
    # one survivor per distinct normalized content
    assert len(got) == 3
    assert len({r["content_md5"] for r in got}) == 3
    # ids 1/2/4 arrive first in file order for their groups
    assert {r["id"] for r in got} == {1, 2, 4}


def test_stream_occurrence_index(spark, tmp_path):
    _, stream = _mk_doc_stream(spark, tmp_path, "socc")
    _run_stream(stream_occurrence_index(stream), tmp_path, "socc_out")
    got = {r["id"]: r["occurrence"] for r in spark.table("socc_out").collect()}
    # every row kept, annotated with its within-group index by id order
    assert got == {1: 1, 3: 2, 5: 3, 2: 1, 6: 2, 4: 1}


def test_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    df = _mk_events(spark).where(F.col("ts").isNotNull())
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    windowed = windowed_profile_stream(
        stream, "ts", "1 hour", watermark="0 seconds"
    )
    q = (
        windowed.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_profile")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _key(spark.table("win_profile").collect())

    batch = _key(windowed_profile(df, "ts", "1 hour").collect())
    # append mode finalizes every window whose end <= watermark (= max event
    # time); the window containing the max event stays open and unemitted
    open_ws = "2024-01-01 02:00:00"
    expect = {k: v for k, v in batch.items() if k[0] != open_ws}
    assert set(got) == set(expect)
    for k, v in expect.items():
        if v is None or got[k] is None:
            assert v == got[k], k
        else:
            assert math.isclose(v, got[k], rel_tol=1e-12), (k, v, got[k])


def test_windowed_compliance_values(spark):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.compliance import ComplianceRule, PatternRule
    from data_profiler_for_aws_glue_data_catalog_spark.streaming.windowed_profile import windowed_compliance

    df = _mk_events(spark)
    m = windowed_compliance(
        df,
        "ts",
        rules=[ComplianceRule("v_big", "v > 2")],
        patterns=[PatternRule("multi", "s", "^.{2,}$")],
        window_duration="1 hour",
    )
    got = _key(m.collect())
    # window 0: v in (1,3) -> 1/2 pass; s in (a, bb) -> 1/2 match
    assert got[("2024-01-01 00:00:00", "v_big", "Compliance")] == 0.5
    assert got[("2024-01-01 00:00:00", "s", "PatternMatch.multi")] == 0.5
    # window 1: v in (10, NULL) -> 1/2 rows pass (NULL fails);
    # s non-null: (cccc) -> 1/1
    assert got[("2024-01-01 01:00:00", "v_big", "Compliance")] == 0.5
    assert got[("2024-01-01 01:00:00", "s", "PatternMatch.multi")] == 1.0


def test_windowed_compliance_streaming_matches_batch(spark, tmp_path):
    from data_profiler_for_aws_glue_data_catalog_spark.operators.compliance import ComplianceRule
    from data_profiler_for_aws_glue_data_catalog_spark.streaming.windowed_profile import (
        windowed_compliance,
        windowed_compliance_stream,
    )

    df = _mk_events(spark)
    src = str(tmp_path / "src_wc")
    ckpt = str(tmp_path / "ckpt_wc")
    df.coalesce(1).write.parquet(src)
    rules = [ComplianceRule("v_big", "v > 2")]

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = windowed_compliance_stream(
        stream, "ts", rules, window_duration="1 hour", watermark="0 seconds"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_compliance")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = _key(spark.table("win_compliance").collect())
    batch = _key(windowed_compliance(df, "ts", rules, (), "1 hour").collect())
    # append mode finalizes a window once the watermark passes its END;
    # the last window (max event time falls inside it) stays open.
    last_ws = max(k[0] for k in batch)
    closed = {k: v for k, v in batch.items() if k[0] != last_ws}
    assert streamed == closed


def test_stream_dedup_within_watermark(spark, tmp_path):
    from data_profiler_for_aws_glue_data_catalog_spark.streaming.stateful_dedup import (
        stream_dedup_within_watermark,
    )

    df, stream = _mk_doc_stream(spark, tmp_path, "wmdedup")
    out = stream_dedup_within_watermark(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("wm_dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("wm_dedup_t").collect()
    # one survivor per distinct content within the single micro-batch
    n_distinct = df.selectExpr(
        "count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')))) AS n"
    ).collect()[0].n
    assert len(got) == n_distinct
    assert len({r.content_md5 for r in got}) == len(got)


def test_late_event_stats_flags_regressions(spark):
    import datetime as dt

    from data_profiler_for_aws_glue_data_catalog_spark.operators.interarrival import late_event_stats

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=10), "k"),
        (2, t0 + dt.timedelta(seconds=20), "k"),
        (3, t0 + dt.timedelta(seconds=5), "k"),   # 15 s behind the max
        (4, t0 + dt.timedelta(seconds=30), "k"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    r = late_event_stats(df, "ts", "event_type", "event_id").collect()[0]
    assert r["n"] == 4 and r["n_late"] == 1
    assert r["max_regression_s"] == 15
    assert abs(r["late_frac"] - 0.25) < 1e-12


def test_sliding_window_membership(spark):
    import datetime as dt

    from data_profiler_for_aws_glue_data_catalog_spark.streaming.windowed_profile import (
        sliding_window_counts,
    )

    t0 = dt.datetime(2026, 1, 1, 10, 30, 0)
    df = spark.createDataFrame(
        [(1, t0, 7, "k", 2.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = sliding_window_counts(df).collect()
    # one event in a 2h/1h sliding spec belongs to exactly 2 windows
    starts = sorted(r["window_start"] for r in rows)
    assert starts == [
        dt.datetime(2026, 1, 1, 9, 0, 0),
        dt.datetime(2026, 1, 1, 10, 0, 0),
    ]
    assert all(r["n_events"] == 1 and r["vsum"] == 2.0 for r in rows)


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """sliding_window_counts is one expression tree: under readStream +
    watermark it must emit exactly the batch result once exhausted."""
    import datetime as dt

    from data_profiler_for_aws_glue_data_catalog_spark.streaming.windowed_profile import (
        sliding_window_counts,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=17 * i), i % 3, "k" if i % 2 else "j", float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "sw_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src).withWatermark(
        "ts", "1 minute"
    )
    out = sliding_window_counts(stream, exact_users=False)
    q = (
        out.writeStream.format("memory").queryName("sw_t")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["key"]): (r["n_events"], r["n_users"], r["vsum"])
        for r in spark.table("sw_t").collect()
    }
    want = {
        (r["window_start"], r["key"]): (r["n_events"], r["n_users"], r["vsum"])
        for r in sliding_window_counts(df, exact_users=False).collect()
    }
    assert got == want and len(got) > 0


def test_stream_sources_read_directory_tables(spark, tmp_path):
    """A table stored as a DIRECTORY of part files (the production layout
    at scale, and the layout-fuzz shards mutation) must stream identically
    to the single-file test layout. Regression: the entry's stream helpers
    symlinked the table path as a file into a temp dir; for a directory
    the file source found zero input files and every file-backed streaming
    query returned 0 rows (caught by fuzz --layout seed 51)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py"
    )
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)

    single = "/root/testdata/sf0.001"
    sharded = tmp_path / "sf"
    sharded.mkdir()
    for t in ("documents", "events"):
        spark.read.parquet(f"{single}/{t}.parquet").repartition(2).write.parquet(
            str(sharded / f"{t}.parquet")
        )

    qs = e.queries()
    for name in ("stream_dedup_exact", "stream_enriched_counts"):
        got = sorted(map(tuple, qs[name](spark, str(sharded)).collect()))
        want = sorted(map(tuple, qs[name](spark, single).collect()))
        assert got == want and len(want) > 0, name


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """Exactly-once across runs: a second availableNow run over the SAME
    checkpoint restores the dedup state, so a duplicate of content first
    seen in run 1 is still suppressed and only genuinely-new content
    emits — the daily-ingest restart shape at scale."""
    from datetime import datetime as dt

    src = str(tmp_path / "rs_src")
    ckpt = str(tmp_path / "rs_ckpt")
    schema = "doc_id bigint, text string, ts timestamp"
    batch1 = spark.createDataFrame(
        [
            (1, "alpha beta", dt(2024, 1, 1, 0, 0)),
            (2, "gamma", dt(2024, 1, 1, 0, 1)),
            (3, "Alpha  BETA!", dt(2024, 1, 1, 0, 2)),  # dup of id 1
        ],
        schema,
    )
    batch1.coalesce(1).write.parquet(src)

    out = str(tmp_path / "rs_out")

    def run():
        # memory sink cannot recover from a checkpoint; the file sink is
        # the restartable production shape
        stream = spark.readStream.schema(batch1.schema).parquet(src)
        q = (
            stream_exact_dedup(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["id"] for r in spark.read.parquet(out).collect()}

    assert run() == {1, 2}

    batch2 = spark.createDataFrame(
        [
            (4, "alpha beta", dt(2024, 1, 1, 0, 3)),  # dup across restart
            (5, "zeta", dt(2024, 1, 1, 0, 4)),        # new content
        ],
        schema,
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    # run 2 resumes from the checkpoint: only the new file is read, the
    # restored state suppresses id 4, and id 5 is the sole new emission
    assert run() == {1, 2, 5}


class _FakeQuery:
    """A streaming query whose availableNow run finishes (or not) in time."""

    name = "sq_fake"

    def __init__(self, finishes: bool):
        self.finishes = finishes
        self.stopped = False

    def awaitTermination(self, timeout=None):
        return self.finishes

    def stop(self):
        self.stopped = True


def test_stream_outliving_its_wait_is_stopped_and_raises():
    """No silent partial result: a memory-sink run that outlives its wait
    is stopped and fails, naming the query; one that finishes is left be."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
    )
    e = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(e)

    late = _FakeQuery(finishes=False)
    with pytest.raises(TimeoutError, match="sq_fake"):
        e._await_stream(late, timeout_s=0.01)
    assert late.stopped

    done = _FakeQuery(finishes=True)
    e._await_stream(done, timeout_s=0.01)
    assert not done.stopped
