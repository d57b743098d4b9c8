"""Streaming-operator queries for the driver contract.

Each runs a REAL Structured Streaming query over the sf-dir events
parquet (readStream + availableNow trigger + memory sink), then
returns the materialized result as a DataFrame. The batch SQL oracle
checks that streaming execution produces exactly the batch-equivalent
answer — the reference testbed's streaming sent==received invariant,
upgraded to full value equality.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.pipeline import stream_dedup, stream_windowed_counts
from .base import QueryFn

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _as_dir(path: str) -> str:
    """Streaming file sources need a directory; the testdata tables are
    single parquet files — expose one via a symlinked temp dir."""
    if os.path.isdir(path):
        return path
    d = tempfile.mkdtemp(prefix="streamsrc-")
    os.symlink(path, os.path.join(d, os.path.basename(path)))
    return d


def _run_stream(df, name: str) -> None:
    ck = tempfile.mkdtemp(prefix=f"ck-{name}-")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name.endswith("_agg") else "append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout; reading the memory
    # sink of a still-running query would hand the grader a silently
    # truncated result — fail loudly instead
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"stream {name} did not drain in 600s")


def _run_stream_until_drained(df, name: str) -> None:
    """Drive a stateful availableNow query that uses PROCESSING-TIME
    timeouts. Spark's availableNow trigger never self-terminates with
    pending processing-time state (it spins "no new data but cleaning
    up state" batches indefinitely — measured: still looping at batch
    129 with numRowsTotal=0), so poll progress and stop() once a
    cleanup batch reports zero input rows AND zero state rows: every
    datum is processed and every session has flushed."""
    import time as _time

    ck = tempfile.mkdtemp(prefix=f"ck-{name}-")
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + 600
    drained = 0
    while _time.time() < deadline:
        if not q.isActive:
            return
        lp = q.lastProgress
        if lp and lp.get("numInputRows", 0) == 0:
            ops = lp.get("stateOperators") or [{}]
            if all(op.get("numRowsTotal", 1) == 0 for op in ops):
                # two consecutive drained observations: the progress
                # object lags one batch behind the running one
                drained += 1
                if drained >= 2:
                    q.stop()
                    q.awaitTermination(60)
                    return
            else:
                drained = 0
        _time.sleep(1)
    q.stop()
    raise TimeoutError(f"stream {name} did not drain in 600s")


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(_as_dir(f"{sf_dir}/events.parquet"))
    counts = stream_windowed_counts(
        stream, ["event_type"], ts_col="ts", window="1 hour", watermark="2 hours"
    )
    _run_stream(counts, "swc_agg")
    return spark.table("swc_agg").select("window_start", "event_type", "n")


O_STREAM_COUNTS = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(_as_dir(f"{sf_dir}/events.parquet"))
    keyed = stream.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    dd = stream_dedup(keyed, ["user_id", "event_type", "hour"], watermark="2 hours")
    _run_stream(dd, "sdd")
    # dropDuplicates keeps an arbitrary row per key; only the key set
    # is deterministic — that's what the oracle checks
    return spark.table("sdd").select("hour", "user_id", "event_type")


O_STREAM_DEDUP = """
SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id, event_type
FROM events
"""


def q_stream_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship routing connector in streaming mode: first-match-
    wins route assignment on a live stream, per-sink counts via a
    complete-mode aggregate — the testbed's sent==received invariant
    value-checked per route (connector/routingconnector/logs.go route
    table; MoveRecordsWithContextIf first-match semantics)."""
    from ..operators.route import Route, apply_routes

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(_as_dir(f"{sf_dir}/events.parquet"))
    routes = [
        Route("errors", F.col("event_type") == "error"),
        Route("hot", F.col("value") > 400),
        Route("signups", F.col("event_type") == "signup"),
    ]
    routed = apply_routes(stream, routes, default="catchall")
    counts = routed.groupBy("route").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("value_sum"),
    )
    _run_stream(counts, "srt_agg")
    return spark.table("srt_agg").select(
        "route", "n", F.round(F.col("value_sum"), 2).alias("value_sum")
    )


O_STREAM_ROUTE = """
SELECT route, count(*) AS n, round(sum(value), 2) AS value_sum
FROM (
  SELECT CASE WHEN event_type = 'error' THEN 'errors'
              WHEN value > 400 THEN 'hot'
              WHEN event_type = 'signup' THEN 'signups'
              ELSE 'catchall' END AS route, value
  FROM events
) GROUP BY route
"""


STREAMING_QUERIES: dict[str, QueryFn] = {
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_dedup": q_stream_dedup,
    "stream_route_counts": q_stream_route_counts,
}

STREAMING_ORACLES: dict[str, str] = {
    "stream_windowed_counts": O_STREAM_COUNTS,
    "stream_dedup": O_STREAM_DEDUP,
    "stream_route_counts": O_STREAM_ROUTE,
}
