"""Flagship pipeline: parse -> enrich -> route -> aggregate -> sinks
over the transcript table.

This is the Spark re-expression of the reference's EP1 lifecycle
(filelog receiver -> stanza operators -> processors -> routingconnector
-> countconnector -> exporters; SURVEY.md §3): the whole
parse+enrich+route section is ONE narrow codegen'd stage — the only
shuffles are (a) the AQE rebalance before the partitioned sink write
and (b) the one grouped count over the written sink. Dims are JVM
local relations, broadcast without a Python worker.

Stage map (reference -> here):
  filelog+regex/json parse  -> parse_turns()        (grok/regex/from_json columns)
  severity_parser           -> parse_turns()        (severity map lookup)
  k8sattributes/resource    -> enrich_turns()       (broadcast insert-if-absent joins)
  routingconnector          -> route_turns()        (DEFAULT_ROUTES as an ordered when() chain)
  countconnector            -> observe_routes()     (per-route counts observed by the write job)
                               aggregate_counts()   (lazy, over any routed frame)
                               SinkCounts           (one grouped count of the written sink;
                                                     the metric tables roll up from it
                                                     on the Spark driver)
  fileexporter group_by     -> write_pipeline()     (rebalance + partitionBy(*SINK_KEYS))
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..model import INFO, WARN, severity_number
from ..operators.aggregate import count_connector
from ..operators.enrich import broadcast_enrich
from ..operators.route import Route, apply_routes
from ..runtime.lineage import LineageLog
from ..runtime.sinks import sink_path, write_sink
from ..sources.dims import role_dim, tool_dim

# grok-style pattern for the synthetic log lines:
# 2026-08-16T12:00:00Z INFO 10.1.2.3 GET /api/v1/x 200 123ms
# Separators are single literal spaces so the rlike gate and the
# split(text, ' ', 7) field extractor below agree exactly: a line with
# tabs/doubled spaces is rejected by the gate instead of silently
# yielding shifted fields.
LOGLINE_PATTERN = (
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z) "
    r"(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
    r"((?:\d{1,3}\.){3}\d{1,3}) "
    r"(GET|POST|PUT|DELETE|PATCH|HEAD) "
    r"(\S+) (\d{3}) (\d+)ms$"
)

TOOL_PAYLOAD_SCHEMA = "tool string, args struct<q string, n int>, status string"


def parse_turns(df: DataFrame) -> DataFrame:
    """Parse stage: log-line extract + JSON tool payloads + severity
    resolution. Pure column exprs in ONE ``withColumns``: the Spark
    driver analyses one projection instead of one per field, and the
    stage runs it as one codegen'd projection.

    Perf note (measured at sf0.1): validating with ONE rlike pass and
    extracting fields from ONE split() is ~3x cheaper per row than a
    regexp_extract per capture group (each Spark regexp_* expression
    re-runs the Java regex engine over the string). The regex is still
    the validity gate — field extraction only runs on matching rows.
    """
    text = F.col("text")
    is_log = text.rlike(LOGLINE_PATTERN)
    parts = F.split(text, " ", 7)

    def ext(i: int) -> Column:
        # 1-based field index into the space-split logline
        return F.when(is_log, F.element_at(parts, i))

    payload = F.when(F.col("role") == "tool", F.from_json(text, TOOL_PAYLOAD_SCHEMA))

    sev_text = F.coalesce(
        ext(2),
        F.when(payload["status"] == "error", "ERROR"),
        F.lit("INFO"),
    )

    # try_* forms: a field that passes the gate but does not convert
    # (month 13, a latency past int64) is NULL and its row is kept —
    # under ANSI a plain cast or to_timestamp would fail the whole job
    return df.withColumns(
        {
            "log_ts": F.try_to_timestamp(ext(1), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
            "log_severity": ext(2),
            "client_ip": ext(3),
            "http_method": ext(4),
            "http_path": ext(5),
            "http_status": ext(6).try_cast("int"),
            "latency_ms": F.when(
                is_log, F.replace(F.element_at(parts, 7), F.lit("ms"), F.lit(""))
            ).try_cast("long"),
            "tool_status": payload["status"],
            "tool_query": payload["args"]["q"],
            "severity_text": sev_text,
            "severity_number": severity_number(sev_text, default=INFO).cast("int"),
            "is_logline": is_log,
        }
    )


def enrich_turns(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Broadcast insert-if-absent joins against role/tool dims
    (k8sattributes semantics; unknown tools keep NULL family —
    the left-join null path)."""
    out = broadcast_enrich(df, role_dim(spark), on="role")
    out = broadcast_enrich(out, tool_dim(spark), on="tool")
    return out


# routingconnector table: first match wins, unmatched rows take
# DEFAULT_ROUTE (the reference's default_pipelines)
DEFAULT_ROUTES = [
    ("alerts", lambda: F.col("severity_number") >= WARN),
    ("tools", lambda: F.col("tool").isNotNull()),
    ("user", lambda: F.col("role") == "user"),
]
DEFAULT_ROUTE = "catchall"
ROUTE_NAMES = [name for name, _ in DEFAULT_ROUTES] + [DEFAULT_ROUTE]

# fileexporter group_by: the routed sink's partition columns, which are
# also its shuffle keys and the keys of its read-back
SINK_KEYS = ["route", "ts_day"]


def route_turns(df: DataFrame) -> DataFrame:
    routes = [Route(name, cond()) for name, cond in DEFAULT_ROUTES]
    return apply_routes(df, routes, default=DEFAULT_ROUTE)


# countconnector metrics (FIXTURES.md F6): table -> (grouped attrs,
# condition, metric column). Rows with a NULL grouped attr are not counted.
COUNT_METRICS: dict[str, tuple[list[str], Callable[[], Column] | None, str]] = {
    "turns_per_sink": (["route"], None, "turn_count"),
    "warn_turns": (["role", "tool_family"], lambda: F.col("severity_number") >= WARN, "warn_count"),
}


def aggregate_counts(routed: DataFrame) -> dict[str, DataFrame]:
    """countconnector metrics over a routed frame, one lazy aggregate
    per ``COUNT_METRICS`` table."""
    return {
        name: count_connector(routed, keys, condition=cond() if cond else None, metric_name=metric)
        for name, (keys, cond, metric) in COUNT_METRICS.items()
    }


def _cond_col(name: str) -> str:
    return f"__if_{name}"


@dataclass
class SinkCounts:
    """Turn counts per (route, ts_day, every grouped attr, every
    metric condition) over the written sink: ONE grouped count, at most
    routes x days x roles x families x 2 rows, fetched as Arrow. Both
    metric tables and the per-day lineage records roll up from it on
    the Spark driver, so the sink is read back once."""

    table: pa.Table

    @classmethod
    def read(cls, spark: SparkSession, root: str, schema: StructType) -> SinkCounts:
        """Count the routed sink under ``root``. ``schema`` is the
        schema of the frame written there: given it, the read plans
        without a schema-inference job over the sink's files."""
        back = spark.read.schema(schema).parquet(sink_path(root, "routed"))
        keys = dict.fromkeys(SINK_KEYS + [k for ks, _, _ in COUNT_METRICS.values() for k in ks])
        conds = [c().alias(_cond_col(name)) for name, (_, c, _) in COUNT_METRICS.items() if c]
        return cls(back.groupBy(*keys, *conds).agg(F.count(F.lit(1)).alias("n")).toArrow())

    def per_day(self) -> dict[str, int]:
        """Rows per ts_day, keyed as ``LineageLog.record_counts`` keys them."""
        days = self.table.group_by("ts_day").aggregate([("n", "sum")])
        return {str(d): n for d, n in zip(days["ts_day"].to_pylist(), days["n_sum"].to_pylist())}

    def metrics(self, spark: SparkSession) -> dict[str, DataFrame]:
        """The ``COUNT_METRICS`` tables — ``aggregate_counts`` of the
        sink — rolled up from the counts on the Spark driver: rows whose
        condition is true and whose grouped attrs are all non-NULL,
        ``n`` summed per group. Each is a one-partition JVM local
        relation, so writing it is one Spark job with no shuffle."""
        tables = {}
        for name, (keys, cond, metric) in COUNT_METRICS.items():
            counted = self.table
            if cond:
                counted = counted.filter(pc.field(_cond_col(name)))
            for k in keys:
                counted = counted.filter(pc.field(k).is_valid())
            rolled = counted.group_by(keys).aggregate([("n", "sum")]).select([*keys, "n_sum"])
            rolled = rolled.rename_columns([*keys, metric]).sort_by([(k, "ascending") for k in keys])
            tables[name] = spark.createDataFrame(rolled).coalesce(1)
        return tables


# observation key of the day set; no route can take it
_DAYS = "__ts_days"


@dataclass
class RouteCounts:
    """What ``observe_routes`` saw, readable once the job that
    consumed its frame has finished."""

    obs: Observation

    def per_route(self) -> dict[str, int]:
        """Rows per route that received any, in ``ROUTE_NAMES`` order."""
        got = self.obs.get
        return {r: got[r] for r in ROUTE_NAMES if got[r] > 0}

    def days(self) -> set[str]:
        """The ts_days the job carried, keyed as ``SinkCounts.per_day`` keys them."""
        return {str(d) for d in self.obs.get[_DAYS]}


def observe_routes(routed: DataFrame) -> tuple[DataFrame, RouteCounts]:
    """Attach the per-route row counts and the set of ts_days to
    ``routed`` with ``DataFrame.observe``: they are collected DURING
    whichever job consumes the returned frame (countconnector's counter
    map ≙ accumulator-style observed aggregates), zero extra jobs. The
    day set is bounded by the calendar, not the data."""
    obs = Observation("sink_counts")
    observed = routed.observe(
        obs,
        *[F.count(F.when(F.col("route") == r, F.lit(1))).alias(r) for r in ROUTE_NAMES],
        F.collect_set("ts_day").alias(_DAYS),
    )
    return observed, RouteCounts(obs)


@dataclass
class PipelineOutput:
    routed: DataFrame


def run_pipeline(spark: SparkSession, transcripts: DataFrame) -> PipelineOutput:
    parsed = parse_turns(transcripts)
    enriched = enrich_turns(parsed, spark)
    return PipelineOutput(routed=route_turns(enriched).withColumn("ts_day", F.to_date("ts")))


def write_pipeline(
    out: PipelineOutput,
    root: str,
    lineage: LineageLog | None = None,
    write_metrics: bool = True,
    resume: bool = False,
) -> dict[str, int]:
    """Fan out to per-sink tables: ONE partitioned write job
    (partitionBy(*SINK_KEYS)).

    Shuffle layout: a ``rebalance`` on ``SINK_KEYS``. Each output
    partition's rows land in one task, so the sink gets one file per
    (route, ts_day); AQE then coalesces small shuffle partitions and
    splits a skewed one (a hot day) by size, so a hot partition is
    spread over several tasks and files only when it is big.

    Per-sink counts and the days written are observed during the write
    job (``observe_routes``); callers compare the counts with what they
    sent. The metric tables (``write_metrics``) and the per-day lineage
    records then come from one grouped count over the written sink
    (``SinkCounts``), read with the written frame's schema; a day gets a
    record only when this call wrote it. A call that writes no rows
    leaves the sink, and so both of them, as they were, and skips the
    read-back. Returns per-sink row counts.

    Spark jobs of a call that writes rows, metric tables and lineage (8):

    1-2. the broadcasts of the role and tool dims (a local relation is
         still collected for a broadcast by a job, with no Python worker);
    3.   the fused parse/enrich/route stage, up to the rebalance shuffle;
    4.   the partitioned write, which also fills ``observe_routes``;
    5-6. the ``SinkCounts`` grouped count: its map stage, then the
         Arrow collect of at most a few thousand rows;
    7-8. one single-task write per metric table.

    A sink wide enough for Spark's parallel partition discovery (more
    than 32 directories at one level) adds a listing job to step 5.
    """
    spark = out.routed.sparkSession
    routed = out.routed
    if resume and lineage is not None:
        # checkpoint.Save analog: skip ts-day partitions a previous run
        # already committed (their sink dirs are intact — dynamic
        # overwrite only touches days this run writes)
        routed = routed.withColumn("__day", F.col("ts_day").cast("string"))
        routed = lineage.filter_pending(routed, "sink_day", "__day").drop("__day")
    observed, seen = observe_routes(routed.hint("rebalance", *SINK_KEYS))
    write_sink(observed, sink_path(root, "routed"), partition_by=SINK_KEYS)
    counts = seen.per_route()
    if lineage is not None:
        lineage.record_all("write_sinks", counts)
    if not counts or not (write_metrics or lineage is not None):
        # an empty write leaves the sink, its metric tables and its
        # per-day lineage as they were
        return counts

    sink = SinkCounts.read(spark, root, observed.schema)
    if write_metrics:
        for name, agg in sink.metrics(spark).items():
            write_sink(agg, sink_path(root, f"metric_{name}"))
    if lineage is not None:
        # per-day completion records (the resume unit), recorded after
        # the metric tables so a committed day always has current ones
        written = seen.days()
        lineage.record_all("sink_day", {d: n for d, n in sink.per_day().items() if d in written})
    return counts
