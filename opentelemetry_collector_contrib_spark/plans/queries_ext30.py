"""Round-5 queries (cont. 14): OTLP logs/spans -> DataSet addEvents
bundles (``exporter/datasetexporter``).

``dataset_logs`` drives the severity number/text double ladder, the
ts->observed->now timestamp fallback, the conditional built-in attrs,
scope export, the distinguishing-suffix collision rule and the
serverHost inference chain; ``dataset_spans`` drives the span event
shape incl. the resource_name/resource_type classification.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT30_QUERIES: dict[str, QueryFn] = {}
EXT30_ORACLES: dict[str, str] = {}

_FLAT = ("array_join(array_sort(transform(map_entries({m}), "
         "kv -> concat(kv.key, '=', kv.value))), ',')")

_SEV_TEXTS = ["", "fine", "finest", "trace", "debug", "info",
              "information", "warn", "warning", "error", "fatal",
              "critical", "emergency", "weird"]


def q_dataset_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dataset_export import dataset_log_events

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    t = F.lit(True)
    fx = ev.select(
        e.alias("i"),
        F.when(e % 5 == 0, F.lit(0)).otherwise(
            F.lit(1700000000_000000000) + e).cast("bigint")
        .alias("ts_ns"),
        F.when(e % 25 == 0, F.lit(0)).otherwise(
            F.lit(1700000009_000000000) + e).cast("bigint")
        .alias("observed_ns"),
        (e % 30).cast("int").alias("severity_number"),
        F.element_at(F.array(*[F.lit(x) for x in _SEV_TEXTS]),
                     (u % 14).cast("int") + 1).alias("severity_text"),
        F.when(e % 7 != 0, F.concat(F.lit("b "), F.col("event_type")))
        .otherwise(F.lit("")).alias("body"),
        (e % 3).cast("int").alias("dropped"),
        F.when(e % 4 == 0, F.concat(F.lit("sid"), s(e)))
        .otherwise(F.lit("")).alias("span_id"),
        F.when(e % 4 == 0, F.concat(F.lit("tid"), s(u)))
        .otherwise(F.lit("")).alias("trace_id"),
        omap(
            (t, "k", F.lit("v")),
            (u % 2 == 0, "host.name", F.concat(F.lit("rh"), s(u % 3))),
            (u % 5 == 0, "serverHost", F.lit("sh")),
        ).alias("res_attrs"),
        F.when(u % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("scope"), s(u % 2))).alias("scope_name"),
        F.create_map(F.lit("sa"), s(u % 3)).alias("scope_attrs"),
        omap(
            (t, "ak", s(e % 5)),
            (e % 6 == 0, "message", F.concat(F.lit("clash"), s(e % 2))),
            (e % 9 == 0, "serverHost", F.concat(F.lit("ah"), s(u % 2))),
        ).alias("attrs"),
    )
    out = dataset_log_events(fx, id_cols=["i"],
                             server_host="cfg-host",
                             now_ns=1800000000_000000000)
    return out.select(
        "i", "ts", "sev", "log", "thread", "server_host",
        F.expr(_FLAT.format(m="attrs")).alias("attr_csv"),
    )


O_DATASET_LOGS = """
WITH b AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type
  FROM events
), c AS (
  SELECT *,
    e % 30 AS sn,
    ['', 'fine', 'finest', 'trace', 'debug', 'info', 'information',
     'warn', 'warning', 'error', 'fatal', 'critical',
     'emergency', 'weird'][u % 14 + 1] AS st,
    e % 7 <> 0 AS has_body,
    e % 6 = 0 AS msg_clash,
    e % 4 = 0 AS has_ids
  FROM b
)
SELECT i,
  CASE WHEN e % 25 = 0 AND e % 5 = 0 THEN '1800000000000000000'
       WHEN e % 5 = 0
         THEN CAST(1700000009000000000 + e AS VARCHAR)
       ELSE CAST(1700000000000000000 + e AS VARCHAR) END AS ts,
  CAST(CASE
    WHEN sn BETWEEN 1 AND 24 THEN (sn - 1) // 4 + 1
    WHEN sn > 24 THEN 3
    WHEN st IN ('fine', 'finest') THEN 0
    WHEN st = 'trace' THEN 1
    WHEN st = 'debug' THEN 2
    WHEN st IN ('info', 'information') THEN 3
    WHEN st IN ('warn', 'warning') THEN 4
    WHEN st = 'error' THEN 5
    WHEN st IN ('fatal', 'critical', 'emergency') THEN 6
    ELSE 3 END AS INT) AS sev,
  'LL' AS log, 'TL' AS thread,
  CASE WHEN e % 9 = 0 THEN 'ah' || CAST(u % 2 AS VARCHAR)
       WHEN u % 5 = 0 THEN 'sh'
       WHEN u % 2 = 0 THEN 'rh' || CAST(u % 3 AS VARCHAR)
       ELSE 'cfg-host' END AS server_host,
  array_to_string(list_sort(list_filter([
    CASE WHEN has_body THEN 'message=b ' || event_type END,
    CASE WHEN e % 3 > 0
      THEN 'dropped_attributes_count=' || CAST(e % 3 AS VARCHAR) END,
    CASE WHEN e % 25 <> 0 THEN 'sca:observedTime='
      || CAST(1700000009000000000 + e AS VARCHAR) END,
    CASE WHEN has_ids THEN 'span_id=sid' || CAST(e AS VARCHAR) END,
    CASE WHEN has_ids THEN 'trace_id=tid' || CAST(u AS VARCHAR) END,
    CASE WHEN u % 7 <> 0
      THEN 'scope.name=scope' || CAST(u % 2 AS VARCHAR) END,
    'sa=' || CAST(u % 3 AS VARCHAR),
    'ak=' || CAST(e % 5 AS VARCHAR),
    CASE WHEN msg_clash THEN
      CASE WHEN has_body THEN 'message_=clash' || CAST(e % 2 AS VARCHAR)
           ELSE 'message=clash' || CAST(e % 2 AS VARCHAR) END END,
    CASE WHEN e % 9 = 0
      THEN 'serverHost=ah' || CAST(u % 2 AS VARCHAR) END
  ], x -> x IS NOT NULL)), ',') AS attr_csv
FROM c
"""


def q_dataset_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dataset_export import dataset_span_events

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    res = (F.when(u % 4 == 0,
                  F.create_map(F.lit("service.name"),
                               F.concat(F.lit("svc"), s(u % 3))))
           .when(u % 4 == 1,
                 F.create_map(F.lit("service.namespace"), F.lit("ns")))
           .when(u % 4 == 2, F.create_map(F.lit("process.pid"), s(u)))
           .otherwise(F.create_map(F.lit("host.name"), F.lit("hh"))))
    attrs = F.map_from_entries(F.filter(F.array(
        F.struct(F.lit("ak").alias("key"), s(e % 5).alias("value")),
        F.when(e % 6 == 0, F.struct(F.lit("name").alias("key"),
                                    F.lit("clash").alias("value"))),
    ), lambda x: x.isNotNull()))
    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("t"), s(u)).alias("trace_id"),
        F.concat(F.lit("s"), s(e)).alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("p"), s(e))).alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (e % 7).cast("int").alias("kind"),
        (F.lit(1700000000_000000000) + e).cast("bigint")
        .alias("start_ns"),
        (F.lit(1700000000_000000000) + e + e % 997 + 1).cast("bigint")
        .alias("end_ns"),
        (e % 4).cast("int").alias("status_code"),
        F.when(e % 4 == 2, F.lit("bad")).otherwise(F.lit(""))
        .alias("status_message"),
        res.alias("res_attrs"),
        attrs.alias("attrs"),
    )
    out = dataset_span_events(fx, id_cols=["i"],
                              server_host="trace-host")
    return out.select(
        "i", "ts", "sev", "log", "thread", "server_host",
        F.expr(_FLAT.format(m="attrs")).alias("attr_csv"),
    )


O_DATASET_SPANS = """
SELECT event_id AS i,
  CAST(1700000000000000000 + event_id AS VARCHAR) AS ts,
  9 AS sev, 'LT' AS log, 'TT' AS thread,
  CASE WHEN user_id % 4 = 3 THEN 'hh' ELSE 'trace-host'
    END AS server_host,
  array_to_string(list_sort(list_filter([
    'sca:schema=tracing', 'sca:schemaVer=1', 'sca:type=span',
    'name=op-' || event_type,
    'span_id=s' || CAST(event_id AS VARCHAR),
    CASE WHEN event_id % 3 <> 0
      THEN 'parent_span_id=p' || CAST(event_id AS VARCHAR) END,
    'trace_id=t' || CAST(user_id AS VARCHAR),
    'start_time_unix_nano='
      || CAST(1700000000000000000 + event_id AS VARCHAR),
    'end_time_unix_nano='
      || CAST(1700000000000000000 + event_id
              + event_id % 997 + 1 AS VARCHAR),
    'duration_nano=' || CAST(event_id % 997 + 1 AS VARCHAR),
    'kind=' || CASE event_id % 7 WHEN 1 THEN 'internal'
      WHEN 2 THEN 'server' WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
      WHEN 5 THEN 'consumer' ELSE 'unspecified' END,
    'status_code=' || CASE event_id % 4 WHEN 1 THEN 'ok'
      WHEN 2 THEN 'error' ELSE 'unset' END,
    'status_message=' || CASE WHEN event_id % 4 = 2 THEN 'bad'
      ELSE '' END,
    'resource_name=' || CASE
      WHEN user_id % 4 = 0 THEN 'svc' || CAST(user_id % 3 AS VARCHAR)
      WHEN user_id % 4 = 1 THEN ''
      WHEN user_id % 4 = 2 THEN CAST(user_id AS VARCHAR)
      ELSE '' END,
    'resource_type=' || CASE WHEN user_id % 4 IN (0, 1)
      THEN 'service' ELSE 'process' END,
    'ak=' || CAST(event_id % 5 AS VARCHAR),
    CASE WHEN event_id % 6 = 0 THEN 'name_=clash' END
  ], x -> x IS NOT NULL)), ',') AS attr_csv
FROM events
"""

EXT30_QUERIES["dataset_logs"] = q_dataset_logs
EXT30_ORACLES["dataset_logs"] = O_DATASET_LOGS
EXT30_QUERIES["dataset_spans"] = q_dataset_spans
EXT30_ORACLES["dataset_spans"] = O_DATASET_SPANS
