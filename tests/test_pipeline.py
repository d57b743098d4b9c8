"""End-to-end flagship pipeline: routed-row conservation, first-match
routing, enrich null path, per-sink counts, lineage resume.

Models the reference testbed invariant (items sent == items received,
testbed/tests/scenarios.go:189-190) and routingconnector first-match
MOVE semantics (connector/routingconnector/logs.go:62-107).
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.model import TRANSCRIPT_SCHEMA, WARN
from opentelemetry_collector_contrib_spark.plans.pipeline import (
    ROUTE_NAMES,
    aggregate_counts,
    run_pipeline,
    write_pipeline,
)
from opentelemetry_collector_contrib_spark.runtime.lineage import LineageLog
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def routed(spark):
    transcripts = generate_transcripts(spark, n_convs=100, partitions=4)
    out = run_pipeline(spark, transcripts)
    out.routed.cache()
    yield out
    out.routed.unpersist()


def test_every_row_routed_exactly_once(spark, routed):
    n_in = generate_transcripts(spark, n_convs=100, partitions=4).count()
    per_sink = {
        r["route"]: r["turn_count"]
        for r in aggregate_counts(routed.routed)["turns_per_sink"].collect()
    }
    assert set(per_sink) <= set(ROUTE_NAMES)
    assert sum(per_sink.values()) == n_in  # sent == received
    assert routed.routed.count() == n_in


def test_first_match_wins(routed):
    # a row matching both alerts and tools must be in alerts only
    both = routed.routed.filter(
        (F.col("severity_number") >= WARN) & F.col("tool").isNotNull()
    )
    assert both.count() > 0
    assert both.filter(F.col("route") != "alerts").count() == 0
    # tools route rows must NOT satisfy the alerts condition
    tools = routed.routed.filter(F.col("route") == "tools")
    assert tools.filter(F.col("severity_number") >= WARN).count() == 0


def test_enrich_insert_if_absent_null_path(routed):
    df = routed.routed
    # known tools got a family; unknown tools (shadow_tool/legacy_api) stay NULL
    assert df.filter((F.col("tool") == "search") & (F.col("tool_family") != "retrieval")).count() == 0
    unknown = df.filter(F.col("tool").isin("shadow_tool", "legacy_api"))
    assert unknown.count() > 0
    assert unknown.filter(F.col("tool_family").isNotNull()).count() == 0
    # every role is enriched
    assert df.filter(F.col("role_kind").isNull()).count() == 0


def test_severity_parse(routed):
    df = routed.routed
    logged = df.filter(F.col("is_logline"))
    assert logged.count() > 0
    # parsed log severities map onto the enum bands
    assert logged.filter(
        (F.col("log_severity") == "ERROR") & (F.col("severity_number") != 17)
    ).count() == 0
    # tool error payloads become ERROR severity
    tool_err = df.filter(F.col("tool_status") == "error")
    assert tool_err.count() > 0
    assert tool_err.filter(F.col("severity_number") != 17).count() == 0


def test_per_turn_text_equality_under_stable_ordering(spark, routed, tmp_path):
    """North-star per-row invariant: after the full parse→enrich→route
    →rebalanced partitioned write, re-establishing order with a window over
    (conv_id, turn_idx) reproduces the reference stream exactly —
    every turn's text is byte-identical and the per-conversation
    ordering is dense and gapless."""
    from pyspark.sql import Window as W

    root = str(tmp_path / "ordered")
    write_pipeline(routed, root, write_metrics=False)
    back = spark.read.parquet(f"{root}/sink=routed")

    reference = generate_transcripts(spark, n_convs=100, partitions=4).select(
        "conv_id", "turn_idx", F.col("text").alias("ref_text")
    )
    joined = back.join(reference, on=["conv_id", "turn_idx"], how="full")
    # every (conv_id, turn_idx) exists on both sides with identical text
    assert joined.filter(F.col("text").isNull() | F.col("ref_text").isNull()).count() == 0
    assert joined.filter(F.col("text") != F.col("ref_text")).count() == 0

    # stable ordering: row_number over (conv_id, turn_idx) == turn_idx+1
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    mis = (
        back.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") != F.col("turn_idx") + 1)
        .count()
    )
    assert mis == 0


def test_write_and_lineage_resume(spark, routed, tmp_path):
    root = str(tmp_path / "out")
    lineage = LineageLog(root, run_id="t1")
    counts = write_pipeline(routed, root, lineage=lineage)
    assert sum(counts.values()) == routed.routed.count()
    # files written per route partition
    back = spark.read.parquet(f"{root}/sink=routed")
    assert back.count() == routed.routed.count()
    assert set(r["route"] for r in back.select("route").distinct().collect()) == set(counts)
    # lineage knows completed sinks; resume filter drops them
    assert lineage.completed("write_sinks") == set(counts)
    pending = lineage.filter_pending(routed.routed, "write_sinks", "route")
    assert pending.count() == 0


def test_enrich_dims_need_no_python_worker(spark):
    """The dims are JVM local relations: the executed plan scans no
    Python-built RDD (``Scan ExistingRDD``), so a job that broadcasts
    them starts no Python worker."""
    routed = run_pipeline(spark, generate_transcripts(spark, n_convs=20, partitions=2)).routed
    routed.write.format("noop").mode("overwrite").save()
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def _sink_files(root):
    files = glob.glob(os.path.join(root, "sink=routed", "route=*", "ts_day=*", "*.parquet"))
    return files, {os.path.dirname(f) for f in files}


def test_one_file_per_route_day(spark, routed, tmp_path):
    """The pre-sink shuffle keeps each (route, ts_day) in one task, so
    a small input writes one file per output partition — even with
    AQE's coalescing of small shuffle partitions switched off."""
    root = str(tmp_path / "files")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_pipeline(routed, root, write_metrics=False)
    finally:
        spark.conf.set(key, prev)
    files, partitions = _sink_files(root)
    n_partitions = routed.routed.select("route", "ts_day").distinct().count()
    assert len(partitions) == n_partitions
    assert len(files) == n_partitions


def test_metrics_and_day_lineage_match_the_sink(spark, routed, tmp_path):
    """The metric tables and per-day lineage records come from one
    grouped count; they must equal ``aggregate_counts`` and a
    groupBy(ts_day) recomputed over the written sink."""
    root = str(tmp_path / "metrics")
    lineage = LineageLog(root, run_id="m1")
    write_pipeline(routed, root, lineage=lineage)
    back = spark.read.parquet(f"{root}/sink=routed")
    for name, expect in aggregate_counts(back).items():
        got = spark.read.parquet(f"{root}/sink=metric_{name}")
        assert got.columns == expect.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect())), name
    days = {str(r[0]): r[1] for r in back.groupBy("ts_day").count().collect()}
    with open(lineage.path) as f:
        records = [json.loads(line) for line in f]
    logged = {r["partition"]: r["rows"] for r in records if r["stage"] == "sink_day"}
    assert logged == days
    assert lineage.completed("sink_day") == set(days)


def test_hostile_loglines_keep_their_row(spark):
    """Under ANSI, a line that passes ``LOGLINE_PATTERN`` but whose
    latency overflows int64, or whose date does not exist, must not fail
    the job: the bad field is NULL, the row is kept and routed as its
    severity says (stanza ``on_error: send``)."""
    lines = [
        "2026-08-16T12:00:00Z INFO 10.1.2.3 GET /api/v1/x 200 123ms",
        "2026-08-16T12:00:00Z WARN 10.1.2.3 GET /api/v1/x 200 99999999999999999999999ms",
        "2026-13-45T12:00:00Z ERROR 10.1.2.3 GET /api/v1/x 503 7ms",
    ]
    ts = datetime(2026, 8, 16, 12)
    rows = [("c1", i, "assistant", text, None, ts) for i, text in enumerate(lines)]
    routed = run_pipeline(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)).routed
    got = {
        r["turn_idx"]: r.asDict()
        for r in routed.select(
            "turn_idx", "route", "is_logline", "http_status", "latency_ms",
            F.col("log_ts").cast("string").alias("log_ts"),
        ).collect()
    }
    assert got == {
        0: {"turn_idx": 0, "route": "catchall", "is_logline": True, "http_status": 200,
            "latency_ms": 123, "log_ts": "2026-08-16 12:00:00"},
        1: {"turn_idx": 1, "route": "alerts", "is_logline": True, "http_status": 200,
            "latency_ms": None, "log_ts": "2026-08-16 12:00:00"},
        2: {"turn_idx": 2, "route": "alerts", "is_logline": True, "http_status": 503,
            "latency_ms": 7, "log_ts": None},
    }


def test_write_pipeline_job_budget(spark, tmp_path):
    """A single-shot ``write_pipeline`` that writes the sink, both
    metric tables and the lineage runs at most 8 Spark jobs (listed in
    its docstring): the read-back plans with the written schema and the
    metric tables are rolled up on the Spark driver."""
    src = generate_transcripts(spark, n_convs=100, partitions=4).localCheckpoint()
    out = run_pipeline(spark, src)
    root = str(tmp_path / "budget")
    sc = spark.sparkContext
    group = "test_write_pipeline_job_budget"
    sc.setJobGroup(group, "one single-shot write_pipeline")
    try:
        counts = write_pipeline(out, root, lineage=LineageLog(root, run_id="b1"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert sum(counts.values()) == src.count()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
