"""Streaming variants: windowed counts, dedup, routed fan-out sinks,
stateful session recombine — all driven with file sources +
availableNow triggers (deterministic, batch-testable)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.streaming.pipeline import (
    routed_foreach_batch_writer,
    stream_dedup,
    stream_recombine,
    stream_windowed_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


@pytest.fixture()
def events_dir(spark, tmp_path):
    rows = [
        (1, "2024-01-01 00:00:05", 1, "click"),
        (2, "2024-01-01 00:00:20", 1, "click"),
        (3, "2024-01-01 00:00:40", 2, "view"),
        (4, "2024-01-01 00:01:10", 1, "error"),
        (5, "2024-01-01 00:01:30", 2, "view"),
        (6, "2024-01-01 00:00:50", 1, "click"),  # dup key (user,type,min 0)
    ]
    df = spark.createDataFrame(
        [(i, ts, u, e) for i, ts, u, e in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "in")
    df.coalesce(1).write.parquet(d)
    return d


def _run(stream_df, tmp_path, name, mode="append", min_rows=0):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ck-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow ends the query once its input is consumed, except
    # over processing-time timeout state (stream_recombine): Spark then
    # asks for a no-data batch on every trigger and the query never
    # ends by itself. A finished batch with no input rows means every
    # input row is already in the sink; stop there (or, with
    # ``min_rows``, once the sink also holds that many rows, so a test
    # can wait for timeout flushes), so no query keeps running into
    # later tests.
    spark = stream_df.sparkSession
    deadline = time.time() + 120
    while q.isActive and time.time() < deadline:
        if (
            q.lastProgress
            and q.lastProgress["numInputRows"] == 0
            and (not min_rows or spark.table(name).count() >= min_rows)
        ):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()  # re-raises a query failure
    return q


def test_stream_windowed_counts(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    counts = stream_windowed_counts(stream, ["event_type"], window="1 minute")
    # complete mode: append would only emit watermark-closed windows,
    # and a single availableNow batch never advances past its own data
    _run(counts, tmp_path, "wc", mode="complete")
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from wc").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 3
    assert got[("2024-01-01 00:00:00", "view")] == 1
    assert got[("2024-01-01 00:01:00", "error")] == 1


def test_stream_dedup(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    withmin = stream.withColumn("minute", F.date_trunc("minute", F.col("ts")))
    dd = stream_dedup(withmin, ["user_id", "event_type", "minute"])
    _run(dd, tmp_path, "dd")
    rows = spark.sql("select * from dd").collect()
    # keys: (1,click,m0) x3 -> 1, (2,view,m0), (1,error,m1), (2,view,m1)
    assert len(rows) == 4


def test_stream_routed_fanout(spark, events_dir, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    routed = stream.withColumn(
        "route",
        F.when(F.col("event_type") == "error", "alerts").otherwise("default"),
    )
    out_root = str(tmp_path / "sinks")
    q = (
        routed.writeStream.foreachBatch(routed_foreach_batch_writer(out_root))
        .option("checkpointLocation", str(tmp_path / "ck-fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(f"{out_root}/routed_stream")
    counts = {r["route"]: r["n"] for r in back.groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert counts == {"alerts": 1, "default": 5}
    assert os.path.isdir(f"{out_root}/routed_stream/route=alerts")


def test_stream_recombine_sessions(spark, tmp_path):
    rows = [
        ("c1", 0, "hello", True),
        ("c1", 1, "  continued", False),
        ("c1", 2, "again", True),      # closes session [0,1]
        ("c1", 3, "  more", False),
        ("c2", 0, "solo", True),
        ("c2", 1, "  tail", False),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, is_first boolean")
    d = str(tmp_path / "conv")
    df.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, text string, is_first boolean"
    ).parquet(d)
    out = stream_recombine(stream)
    _run(out, tmp_path, "rc")
    rows = spark.sql("select * from rc").collect()
    closed = {(r["conv_id"], r["session_start"]): r for r in rows if r["closed"]}
    # the first c1 session closes when turn 2 (is_first) arrives
    assert ("c1", 0) in closed
    assert closed[("c1", 0)]["text"] == "hello\n  continued"
    assert closed[("c1", 0)]["n_turns"] == 2


def test_stream_recombine_max_batch_size_bounds_state(spark, tmp_path):
    # one never-closing conversation with 7 turns and max_batch_size=3:
    # the cap force-flushes (closed=false) every 3 buffered turns —
    # recombine config.go:40 default semantics, keeping per-key state
    # bounded even when no is_first row ever arrives again
    rows = [("c1", i, f"t{i}", i == 0) for i in range(7)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, is_first boolean"
    )
    d = str(tmp_path / "conv_cap")
    df.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, text string, is_first boolean"
    ).parquet(d)
    # a 1-s timeout so the run also covers the timeout flush
    out = stream_recombine(stream, timeout_ms=1000, max_batch_size=3)
    _run(out, tmp_path, "rc_cap", min_rows=3)
    got = spark.sql("select * from rc_cap").collect()
    flushed = sorted(
        (r["session_start"], r["n_turns"], r["closed"]) for r in got
    )
    # two cap flushes of 3; the last turn stays buffered until the
    # processing-time timeout emits it as a third (also closed=false)
    # flush and drops the key's state, so nothing is flushed twice
    assert flushed == [(0, 3, False), (3, 3, False), (6, 1, False)]


def test_stream_alert_fingerprint_dedup(spark, tmp_path):
    """`for:` persistence composed with the dedup fingerprint stage:
    the rule's fires, streamed, emit once per (rule, labels) within the
    dedup window (alertsgen dedup.Deduper semantics)."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import alert_rule
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        stream_alert_dedup,
    )

    rows = [
        ("r1", "2024-01-01 00:00:00", 9.0),
        ("r1", "2024-01-01 00:01:00", 8.0),   # fires (streak 2)
        ("r1", "2024-01-01 00:02:00", 7.0),   # fires (streak 3) - same fingerprint
        ("r2", "2024-01-01 00:00:00", 9.0),
        ("r2", "2024-01-01 00:01:00", 9.0),   # fires (streak 2), other rule key
    ]
    df = spark.createDataFrame(rows, "rule_key string, window_start string, metric double")
    df = df.withColumn("window_start", F.to_timestamp("window_start"))
    fired = alert_rule(df, "metric", 5.0, for_windows=2, group_by=["rule_key"])
    d = str(tmp_path / "alerts-fp-in")
    fired.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "rule_key string, window_start timestamp, metric double"
    ).parquet(d)
    deduped = stream_alert_dedup(stream, "high_metric", ["rule_key"])
    _run(deduped, tmp_path, "alerts_fp")
    got = sorted(r["rule_key"] for r in spark.sql("select * from alerts_fp").collect())
    # r1 fired twice (streaks 2,3) but dedups to ONE alert; r2 once
    assert got == ["r1", "r2"]


def test_iceberg_sink_fallback(spark, tmp_path):
    """Format-pluggable sink: without Iceberg jars, fmt='auto' falls
    back to parquet dynamic-overwrite; fmt='iceberg' raises clearly."""
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.runtime.sinks import (
        iceberg_available,
        write_table_sink,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, route string")
    path = str(tmp_path / "tbl")
    used = write_table_sink(df, "local.db.t", path, partition_by=["route"], fmt="auto")
    if not iceberg_available(spark):
        assert used == "parquet"
        back = spark.read.parquet(path)
        assert back.count() == 2
        with _pytest.raises(RuntimeError, match="jars are absent"):
            write_table_sink(df, "local.db.t", path, fmt="iceberg")
    else:
        assert used == "iceberg"


def test_stream_signaltometrics(spark, events_dir, tmp_path):
    from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        MetricInfo,
    )
    from opentelemetry_collector_contrib_spark.streaming.pipeline import (
        stream_signal_to_metrics,
    )

    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    sig = stream.select(
        F.col("ts").alias("time"),
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("user_id").cast("string"),
        ).alias("attributes"),
    )
    cfg = MetricInfo(
        name="n_sum",
        metric_type="sum",
        value='Double(attributes["value"])',
        attributes=(("event_type",),),
    )
    out = stream_signal_to_metrics(sig, cfg, window="1 minute")
    _run(out, tmp_path, "s2m", mode="complete")
    rows = {
        (str(r["window_start"]), r["event_type"]): r["n_sum"]
        for r in spark.sql("select * from s2m").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(
            F.date_trunc("minute", "ts").alias("m"), "event_type"
        )
        .agg(F.sum(F.col("user_id").cast("double")).alias("s"))
        .collect()
    )
    want = {(str(r["m"]), r["event_type"]): r["s"] for r in batch}
    assert rows == want


def test_alert_state_sync_across_runs(spark, tmp_path):
    """A `for: 3 windows` streak split across two batch runs fires in
    the second run (TSDB restore analog)."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        alert_rule_stateful,
    )

    state = str(tmp_path / "alert_state")

    def windowed(rows):
        return spark.createDataFrame(
            rows, "window_start string, svc string, v double"
        ).withColumn("window_start", F.to_timestamp("window_start"))

    # run 1: two breaching windows (streak 2 < 3 -> nothing fires)
    run1 = windowed(
        [
            ("2024-01-01 00:00:00", "a", 9.0),
            ("2024-01-01 00:00:05", "a", 9.0),
        ]
    )
    fired1 = alert_rule_stateful(
        run1, "v", 5.0, ">", for_windows=3, group_by=["svc"],
        window_sec=5, state_path=state,
    ).collect()
    assert fired1 == []
    # run 2: contiguous breach -> streak 3 -> fires immediately
    run2 = windowed([("2024-01-01 00:00:10", "a", 9.0)])
    fired2 = alert_rule_stateful(
        run2, "v", 5.0, ">", for_windows=3, group_by=["svc"],
        window_sec=5, state_path=state,
    ).collect()
    assert len(fired2) == 1 and fired2[0]["svc"] == "a"
    # run 3: NON-contiguous breach (gap) -> streak resets -> no fire
    run3 = windowed([("2024-01-01 00:01:00", "a", 9.0)])
    fired3 = alert_rule_stateful(
        run3, "v", 5.0, ">", for_windows=3, group_by=["svc"],
        window_sec=5, state_path=state,
    ).collect()
    assert fired3 == []
