"""Round-5 queries (cont. 10): OTLP → Azure Monitor (Application
Insights) envelopes
(``exporter/azuremonitorexporter/{log_to_envelope,
metric_to_envelopes}.go``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT26_QUERIES: dict[str, QueryFn] = {}
EXT26_ORACLES: dict[str, str] = {}

# RFC3339Nano of (secs, ns-part) in DuckDB
_RFC3339 = ("strftime(make_timestamp(({s}) * 1000000), "
            "'%Y-%m-%dT%H:%M:%S') || CASE WHEN ({n}) > 0 THEN '.' || "
            "rtrim(lpad(CAST({n} AS VARCHAR), 9, '0'), '0') "
            "ELSE '' END || 'Z'")


def q_azuremonitor_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.azuremonitor_export import azuremonitor_log_envelopes

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("b-"), F.col("event_type")).alias("body"),
        F.when(e % 6 == 0, F.lit(0)).otherwise(
            F.lit(1700000000000000000) + e * 1234567).cast("bigint")
        .alias("ts_ns"),
        F.when(e % 30 == 0, F.lit(0)).otherwise(
            F.lit(1690000000000000000) + e * 1000000).cast("bigint")
        .alias("observed_ts_ns"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.when(e % 11 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(e + 1)), 16, "0")).alias("span_id"),
        (e % 26).cast("int").alias("severity_number"),
        F.concat(F.lit("sev"), s(e % 5)).alias("severity_text"),
        omap(
            (F.lit(True), "k", F.concat(F.lit("v"), s(e % 3))),
            (e % 10 == 0, "microsoft.custom_event.name",
             F.concat(F.lit("ce"), s(e % 3))),
            (e % 20 == 5, "APPLICATION_INSIGHTS_EVENT_MARKER_ATTRIBUTE",
             F.concat(F.lit("mk"), s(u % 2))),
            (e % 7 == 0, "exception.type",
             F.concat(F.lit("T"), s(e % 4))),
            (e % 7 == 0, "exception.message", F.lit("em")),
            (e % 14 == 0, "exception.stacktrace", F.lit("st")),
        ).alias("attrs"),
        omap(
            (F.lit(True), "rk", F.concat(F.lit("rv"), s(u % 2))),
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 4 == 0, "service.namespace",
             F.concat(F.lit("ns"), s(u % 2))),
            (u % 3 == 0, "service.instance.id",
             F.concat(F.lit("inst"), s(u % 7))),
        ).alias("res_attrs"),
        F.when(u % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("lib"), s(u % 2))).alias("scope_name"),
        F.when(u % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("1."), s(u % 3))).alias("scope_version"),
    )

    return azuremonitor_log_envelopes(
        fx, id_cols=["i"], custom_events_enabled=True,
        exception_events_enabled=True)


_TS = ("CASE WHEN e % 6 <> 0 THEN 1700000000000000000 + e * 1234567 "
       "WHEN e % 30 <> 0 THEN 1690000000000000000 + e * 1000000 END")

O_AZUREMONITOR_LOGS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         {ts} AS ts
  FROM events
), b AS (
  SELECT *,
    CASE WHEN e % 10 = 0 OR e % 20 = 5 THEN 'Event'
         WHEN e % 7 = 0 THEN 'Exception'
         ELSE 'Message' END AS kind,
    CASE WHEN e % 26 BETWEEN 1 AND 8 THEN 'Verbose'
         WHEN e % 26 BETWEEN 13 AND 16 THEN 'Warning'
         WHEN e % 26 BETWEEN 17 AND 20 THEN 'Error'
         WHEN e % 26 BETWEEN 21 AND 24 THEN 'Critical'
         ELSE 'Information' END AS sev,
    list_filter([
      CASE WHEN e % 20 = 5
           THEN 'APPLICATION_INSIGHTS_EVENT_MARKER_ATTRIBUTE=mk' ||
                CAST(u % 2 AS VARCHAR) END,
      CASE WHEN e % 7 = 0 THEN 'exception.message=em' END,
      CASE WHEN e % 14 = 0 THEN 'exception.stacktrace=st' END,
      CASE WHEN e % 7 = 0
           THEN 'exception.type=T' || CAST(e % 4 AS VARCHAR) END,
      'k=v' || CAST(e % 3 AS VARCHAR),
      CASE WHEN e % 10 = 0
           THEN 'microsoft.custom_event.name=ce' ||
                CAST(e % 3 AS VARCHAR) END
    ], x -> x IS NOT NULL) AS log_props,
    list_filter([
      CASE WHEN u % 9 <> 0 THEN 'instrumentationlibrary.name=lib' ||
           CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 6 <> 0
           THEN 'instrumentationlibrary.version=1.' ||
                CAST(u % 3 AS VARCHAR) END,
      'rk=rv' || CAST(u % 2 AS VARCHAR),
      CASE WHEN u % 3 = 0 THEN 'service.instance.id=inst' ||
           CAST(u % 7 AS VARCHAR) END,
      CASE WHEN u % 5 <> 0
           THEN 'service.name=svc' || CAST(u % 3 AS VARCHAR) END,
      CASE WHEN u % 4 = 0
           THEN 'service.namespace=ns' || CAST(u % 2 AS VARCHAR) END
    ], x -> x IS NOT NULL) AS res_props
  FROM a
)
SELECT i, kind,
  'Microsoft.ApplicationInsights.' || kind AS envelope_name,
  CASE WHEN ts IS NOT NULL THEN {rfc} END AS time,
  CASE WHEN kind <> 'Event' THEN
    CASE WHEN e % 13 = 0 THEN ''
         ELSE lpad(lower(to_hex(1000 + u)), 32, '0') END END AS op_id,
  CASE WHEN kind <> 'Event' THEN
    CASE WHEN e % 11 = 0 THEN ''
         ELSE lpad(lower(to_hex(e + 1)), 16, '0') END END
    AS op_parent_id,
  CASE WHEN kind <> 'Event' AND u % 5 <> 0 THEN
    CASE WHEN u % 4 = 0
         THEN 'ns' || CAST(u % 2 AS VARCHAR) || '.svc' ||
              CAST(u % 3 AS VARCHAR)
         ELSE 'svc' || CAST(u % 3 AS VARCHAR) END END AS cloud_role,
  CASE WHEN kind <> 'Event' AND u % 3 = 0
       THEN 'inst' || CAST(u % 7 AS VARCHAR) END
    AS cloud_role_instance,
  CASE WHEN kind <> 'Event' THEN sev END AS severity_level,
  CASE WHEN kind = 'Event' THEN
    CASE WHEN e % 10 = 0 THEN 'ce' || CAST(e % 3 AS VARCHAR)
         ELSE 'mk' || CAST(u % 2 AS VARCHAR) END END AS event_name,
  CASE WHEN kind = 'Message' THEN 'b-' || event_type END AS message,
  CASE WHEN kind = 'Exception'
       THEN 'sev' || CAST(e % 5 AS VARCHAR) END AS problem_id,
  CASE WHEN kind = 'Exception' THEN 'em' END AS exc_message,
  CASE WHEN kind = 'Exception'
       THEN 'T' || CAST(e % 4 AS VARCHAR) END AS exc_type,
  CASE WHEN kind = 'Exception' THEN e % 14 = 0 END
    AS exc_has_full_stack,
  CASE WHEN kind = 'Exception' THEN
    CASE WHEN e % 14 = 0 THEN 'st' ELSE '' END END AS exc_stack,
  CASE WHEN kind = 'Event'
       THEN array_to_string(list_sort(log_props), ',')
       ELSE array_to_string(list_sort(res_props || log_props), ',')
       END AS properties
FROM b
""".format(ts=_TS,
           rfc=_RFC3339.format(s="ts // 1000000000",
                               n="ts % 1000000000"))


def q_azuremonitor_metrics(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from ..operators.azuremonitor_export import (
        azuremonitor_metric_envelopes,
    )

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("met"), s(e % 6)).alias("name"),
        F.when(e % 5 == 0, F.lit("gauge"))
        .when(e % 5 == 1, F.lit("sum"))
        .when(e % 5 == 2, F.lit("histogram"))
        .when(e % 5 == 3, F.lit("summary"))
        .when(e % 2 == 0, F.lit("exphist")).otherwise(F.lit("empty"))
        .alias("mtype"),
        (F.lit(1700000000000000000) + e * 1000000).cast("bigint")
        .alias("ts_ns"),
        omap(
            (e % 7 != 0, "k", F.concat(F.lit("v"), s(e % 3))),
        ).alias("attrs"),
        omap(
            (F.lit(True), "rk", F.concat(F.lit("rv"), s(u % 2))),
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 4 == 0, "service.namespace",
             F.concat(F.lit("ns"), s(u % 2))),
            (u % 3 == 0, "service.instance.id",
             F.concat(F.lit("inst"), s(u % 7))),
        ).alias("res_attrs"),
        F.when(u % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("lib"), s(u % 2))).alias("scope_name"),
        F.when(u % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("1."), s(u % 3))).alias("scope_version"),
        F.when(e % 35 == 0, F.lit(None).cast("boolean"))
        .otherwise(e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        d((u % 4) * 0.25).alias("vdouble"),
        (e % 50 + 2).cast("bigint").alias("count"),
        F.when(u % 4 != 0, d((u % 10) * 1.5)).alias("sum"),
        F.when(u % 5 != 0, F.lit(0.25)).cast("double").alias("min"),
        F.when(u % 6 != 0, d((u % 7) * 2.0)).alias("max"),
    )

    return azuremonitor_metric_envelopes(fx, id_cols=["i"])


O_AZUREMONITOR_METRICS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e,
         'met' || CAST(event_id % 6 AS VARCHAR) AS name,
         CASE WHEN event_id % 5 = 0 THEN 'gauge'
              WHEN event_id % 5 = 1 THEN 'sum'
              WHEN event_id % 5 = 2 THEN 'histogram'
              WHEN event_id % 5 = 3 THEN 'summary'
              WHEN event_id % 2 = 0 THEN 'exphist'
              ELSE 'empty' END AS mtype
  FROM events
)
SELECT i, name,
  {rfc} AS time,
  CASE WHEN mtype IN ('gauge', 'sum') THEN
    CASE WHEN e % 35 = 0 THEN 0.0
         WHEN e % 2 = 0 THEN CAST(e % 100 AS DOUBLE)
         ELSE CAST((u % 4) * 0.25 AS DOUBLE) END
  ELSE CASE WHEN u % 4 <> 0 THEN CAST((u % 10) * 1.5 AS DOUBLE)
       ELSE 0.0 END END AS value,
  CASE WHEN mtype IN ('gauge', 'sum') THEN 1
       ELSE e % 50 + 2 END AS dp_count,
  CASE WHEN mtype IN ('gauge', 'sum') THEN 'Measurement'
       ELSE 'Aggregation' END AS dp_kind,
  CASE WHEN mtype IN ('histogram', 'exphist') THEN
    CAST(CASE WHEN u % 5 <> 0 THEN 0.25 ELSE 0.0 END AS DOUBLE) END
    AS dp_min,
  CASE WHEN mtype IN ('histogram', 'exphist') THEN
    CASE WHEN u % 6 <> 0 THEN CAST((u % 7) * 2.0 AS DOUBLE)
         ELSE 0.0 END END AS dp_max,
  CASE WHEN u % 5 <> 0 THEN
    CASE WHEN u % 4 = 0
         THEN 'ns' || CAST(u % 2 AS VARCHAR) || '.svc' ||
              CAST(u % 3 AS VARCHAR)
         ELSE 'svc' || CAST(u % 3 AS VARCHAR) END END AS cloud_role,
  CASE WHEN u % 3 = 0 THEN 'inst' || CAST(u % 7 AS VARCHAR) END
    AS cloud_role_instance,
  array_to_string(list_sort(list_filter([
    CASE WHEN u % 9 <> 0 THEN 'instrumentationlibrary.name=lib' ||
         CAST(u % 2 AS VARCHAR) END,
    CASE WHEN u % 6 <> 0 THEN 'instrumentationlibrary.version=1.' ||
         CAST(u % 3 AS VARCHAR) END,
    CASE WHEN e % 7 <> 0 THEN 'k=v' || CAST(e % 3 AS VARCHAR) END,
    'rk=rv' || CAST(u % 2 AS VARCHAR),
    CASE WHEN u % 3 = 0 THEN 'service.instance.id=inst' ||
         CAST(u % 7 AS VARCHAR) END,
    CASE WHEN u % 5 <> 0
         THEN 'service.name=svc' || CAST(u % 3 AS VARCHAR) END,
    CASE WHEN u % 4 = 0
         THEN 'service.namespace=ns' || CAST(u % 2 AS VARCHAR) END
  ], x -> x IS NOT NULL)), ',') AS properties
FROM a WHERE mtype NOT IN ('empty')
""".format(rfc=_RFC3339.format(
    s="(1700000000000000000 + e * 1000000) // 1000000000",
    n="(1700000000000000000 + e * 1000000) % 1000000000"))


EXT26_QUERIES["azuremonitor_logs"] = q_azuremonitor_logs
EXT26_ORACLES["azuremonitor_logs"] = O_AZUREMONITOR_LOGS
EXT26_QUERIES["azuremonitor_metrics"] = q_azuremonitor_metrics
EXT26_ORACLES["azuremonitor_metrics"] = O_AZUREMONITOR_METRICS


def q_azuremonitor_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.azuremonitor_trace_export import (
        azuremonitor_span_envelopes,
    )

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    q = F.floor(e / 5)
    t = e % 5
    start = F.lit(1700000000000000000) + e * 1000000
    dur_us = e * 97003 * F.when(e % 50 == 0, F.lit(200)).otherwise(
        F.lit(1))

    fx = ev.select(
        e.alias("i"),
        F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0")
        .alias("trace_id"),
        F.lpad(F.lower(F.hex(e + 1)), 16, "0").alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.floor(e / 2) + 1)), 16, "0"))
        .alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (e % 6).cast("int").alias("kind"),
        start.cast("bigint").alias("start_ns"),
        (start + dur_us * 1000).cast("bigint").alias("end_ns"),
        F.when(e % 11 == 0, F.lit(2)).when(e % 11 == 1, F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("status_code"),
        F.when(e % 11 == 0, F.lit("boom")).otherwise(F.lit(""))
        .alias("status_message"),
        omap(
            ((t != 4) & (e % 4 == 0), "enduser.id",
             F.concat(F.lit("u"), s(u % 5))),
            # http family
            (t == 0, "http.method",
             F.when(u % 2 == 0, F.lit("GET")).otherwise(F.lit("POST"))),
            ((t == 0) & (q % 3 != 0), "http.route",
             F.when(q % 2 == 0, F.concat(F.lit("r"), s(q % 4)))
             .otherwise(F.concat(F.lit("/r"), s(q % 4)))),
            ((t == 0) & (q % 7 != 0), "http.status_code",
             s(q % 7 * 90 + 80)),
            ((t == 0) & (u % 3 != 0), "http.scheme", F.lit("http")),
            ((t == 0) & (u % 4 == 0), "http.host",
             F.concat(F.lit("hh"), s(u % 4))),
            ((t == 0) & (u % 5 == 0), "http.server_name",
             F.concat(F.lit("sn"), s(u % 2))),
            ((t == 0) & (q % 5 != 0), "http.target",
             F.when(q % 2 == 0, F.concat(F.lit("tg"), s(q % 3)))
             .otherwise(F.concat(F.lit("/tg"), s(q % 3)))),
            ((t == 0) & (u % 2 == 0), "net.host.port", F.lit("8080")),
            ((t == 0) & (u % 7 == 0), "net.host.name",
             F.concat(F.lit("nh"), s(u % 3))),
            ((t == 0) & (q % 2 == 0), "http.url",
             F.concat(F.lit("https://ux"), s(q % 3), F.lit(".io/p"))),
            ((t == 0) & (q % 4 == 0), "http.client_ip",
             F.concat(F.lit("9.9.9."), s(u % 5))),
            # rpc family
            (t == 1, "rpc.system", F.lit("grpc")),
            (t == 1, "rpc.grpc.status_code", s(q % 5)),
            # db family
            (t == 2, "db.system", F.lit("mysql")),
            ((t == 2) & (q % 2 == 0), "db.statement",
             F.concat(F.lit("SELECT "), s(q % 3))),
            ((t == 2) & (q % 3 == 0), "db.operation",
             F.concat(F.lit("op"), s(q % 3))),
            # messaging family
            (t == 3, "messaging.system", F.lit("kafka")),
            ((t == 3) & (q % 2 == 0), "messaging.url",
             F.concat(F.lit("amqp://m"), s(q % 3))),
            # shared peer attrs (rpc/db/messaging + http dep ladder)
            (t.isin(0, 1, 2, 3) & (u % 2 == 0), "net.peer.name",
             F.concat(F.lit("pn"), s(u % 2))),
            (t.isin(0, 1, 2, 3) & (u % 3 == 0), "net.peer.ip",
             F.concat(F.lit("10.1.1."), s(u % 3))),
            (t.isin(0, 1, 2, 3) & (q % 2 == 0), "net.peer.port",
             F.lit("7070")),
            # unknown / faas family
            ((t == 4) & (q % 4 == 0), "faas.trigger", F.lit("http")),
            ((t == 4) & (q % 4 >= 2), "za",
             F.concat(F.lit("zv"), s(q % 2))),
        ).alias("attrs"),
        omap(
            (F.lit(True), "rk", F.concat(F.lit("rv"), s(u % 2))),
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 4 == 0, "service.namespace",
             F.concat(F.lit("ns"), s(u % 2))),
            (u % 3 == 0, "service.instance.id",
             F.concat(F.lit("inst"), s(u % 7))),
        ).alias("res_attrs"),
        F.when(u % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("lib"), s(u % 2))).alias("scope_name"),
        F.when(u % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("1."), s(u % 3))).alias("scope_version"),
        F.when(e % 7 == 0, F.concat(
            F.array(F.struct(
                (start + 5).cast("bigint").alias("ts_ns"),
                F.lit("exception").alias("name"),
                omap(
                    (F.lit(True), "exception.type",
                     F.concat(F.lit("T"), s(e % 3))),
                    (e % 2 == 0, "exception.message", F.lit("em")),
                    (e % 21 == 0, "exception.stacktrace", F.lit("st")),
                ).alias("attrs"))),
            F.when(e % 14 == 0, F.array(F.struct(
                (start + 6).cast("bigint").alias("ts_ns"),
                F.lit("note").alias("name"),
                F.expr("map()").cast("map<string,string>")
                .alias("attrs"))))
            .otherwise(F.expr("array()").cast(
                "array<struct<ts_ns:bigint,name:string,"
                "attrs:map<string,string>>>")),
        )).alias("events"),
        F.when(e % 10 == 0, F.concat(
            F.array(F.struct(F.lit("lt1").alias("trace_id"),
                             F.lit("ls1").alias("span_id"))),
            F.when(e % 20 == 0, F.array(F.struct(
                F.lit("lt2").alias("trace_id"),
                F.lit("ls2").alias("span_id"))))
            .otherwise(F.expr("array()").cast(
                "array<struct<trace_id:string,span_id:string>>")),
        )).alias("links"),
    )

    return azuremonitor_span_envelopes(fx, id_cols=["i"])


O_AZUREMONITOR_SPANS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         event_id // 5 AS q, event_id % 5 AS t,
         1700000000000000000 + event_id * 1000000 AS start_ns,
         event_id * 97003 *
           (CASE WHEN event_id % 50 = 0 THEN 200 ELSE 1 END) AS dur_us
  FROM events
  WHERE NOT (event_id % 5 = 4 AND (event_id // 5) % 4 = 0)  -- faas
), b AS (
  SELECT *,
    e % 6 IN (2, 5) AS is_req,
    e % 6 IN (0, 1) AS is_internal,
    CASE WHEN e % 11 = 0 THEN 2 WHEN e % 11 = 1 THEN 1
         ELSE 0 END AS st,
    CASE WHEN u % 2 = 0 THEN 'GET' ELSE 'POST' END AS method,
    q % 3 <> 0 AS route_p,
    CASE WHEN q % 2 = 0 THEN 'r' ELSE '/r' END ||
      CAST(q % 4 AS VARCHAR) AS route_raw,
    '/r' || CAST(q % 4 AS VARCHAR) AS route_pref,
    q % 7 <> 0 AS code_p, q % 7 * 90 + 80 AS hcode,
    u % 3 <> 0 AS scheme_p,
    u % 4 = 0 AS host_p, 'hh' || CAST(u % 4 AS VARCHAR) AS hostv,
    u % 5 = 0 AS server_p, 'sn' || CAST(u % 2 AS VARCHAR) AS serverv,
    q % 5 <> 0 AS target_p,
    '/tg' || CAST(q % 3 AS VARCHAR) AS target_pref,
    CASE WHEN q % 2 = 0 THEN 'tg' ELSE '/tg' END ||
      CAST(q % 3 AS VARCHAR) AS target_raw,
    u % 2 = 0 AS hport_p,
    u % 7 = 0 AS nhn_p, 'nh' || CAST(u % 3 AS VARCHAR) AS nhnv,
    q % 2 = 0 AS url_p,
    'https://ux' || CAST(q % 3 AS VARCHAR) || '.io/p' AS urlv,
    'ux' || CAST(q % 3 AS VARCHAR) || '.io' AS urlhost,
    q % 4 = 0 AS cip_p, '9.9.9.' || CAST(u % 5 AS VARCHAR) AS cipv,
    u % 2 = 0 AS pn_p, 'pn' || CAST(u % 2 AS VARCHAR) AS pnv,
    u % 3 = 0 AS pip_p, '10.1.1.' || CAST(u % 3 AS VARCHAR) AS pipv,
    q % 2 = 0 AS pport_p,
    'op-' || event_type AS sname
  FROM a
), c AS (
  SELECT *,
    COALESCE(CASE WHEN pn_p THEN pnv WHEN pip_p THEN pipv END, '') ||
      CASE WHEN pport_p THEN ':7070' ELSE '' END AS peer,
    CASE WHEN t = 1 THEN
           CASE WHEN q % 5 <> 0 THEN CAST(q % 5 AS VARCHAR)
                ELSE '0' END
         WHEN t = 0 AND code_p THEN CAST(hcode AS VARCHAR)
         ELSE CAST(st AS VARCHAR) END AS resp_code,
    CASE WHEN t = 0 AND code_p THEN hcode BETWEEN 100 AND 399
         ELSE st <> 2 END AS success,
    CASE WHEN t = 0 THEN method || ' ' ||
           CASE WHEN route_p THEN route_pref ELSE sname END
         WHEN t = 1 THEN 'grpc ' || sname
         ELSE sname END AS req_name,
    CASE WHEN t = 0 THEN method ||
           CASE WHEN route_p THEN ' ' || route_raw ELSE '' END
         ELSE sname END AS dep_name,
    CASE WHEN t = 0 THEN
      CASE WHEN scheme_p AND host_p AND target_p
           THEN 'http://' || hostv || target_pref
           WHEN scheme_p AND server_p AND hport_p AND target_p
           THEN 'http://' || serverv || ':8080' || target_pref
           WHEN scheme_p AND nhn_p AND hport_p AND target_p
           THEN 'http://' || nhnv || ':8080' || target_pref
           WHEN url_p THEN urlv END END AS req_url,
    CASE WHEN t = 0 THEN
      CASE WHEN url_p THEN urlv
           WHEN scheme_p AND host_p AND target_p
           THEN 'http://' || hostv || target_pref
           WHEN scheme_p AND pn_p AND pport_p AND target_p
           THEN 'http://' || pnv || ':7070' || target_pref
           WHEN scheme_p AND pip_p AND pport_p AND target_p
           THEN 'http://' || pipv || ':7070' || target_pref END
    END AS dep_http_data,
    CASE WHEN t = 0 THEN
      CASE WHEN url_p THEN urlhost
           WHEN scheme_p AND host_p AND target_p THEN hostv
           WHEN scheme_p AND pn_p AND pport_p AND target_p
           THEN pnv || ':7070'
           WHEN scheme_p AND pip_p AND pport_p AND target_p
           THEN pipv || ':7070' END
    END AS dep_http_target
  FROM b
), d AS (
  SELECT *,
    list_filter([
      CASE WHEN t <> 4 AND e % 4 = 0
           THEN 'enduser.id=u' || CAST(u % 5 AS VARCHAR) END,
      CASE WHEN t = 0 THEN 'http.method=' || method END,
      CASE WHEN t = 0 AND route_p THEN 'http.route=' || route_raw END,
      CASE WHEN t = 0 AND code_p
           THEN 'http.status_code=' || CAST(hcode AS VARCHAR) END,
      CASE WHEN t = 0 AND scheme_p THEN 'http.scheme=http' END,
      CASE WHEN t = 0 AND host_p THEN 'http.host=' || hostv END,
      CASE WHEN t = 0 AND server_p
           THEN 'http.server_name=' || serverv END,
      CASE WHEN t = 0 AND target_p
           THEN 'http.target=' || target_raw END,
      CASE WHEN t = 0 AND hport_p THEN 'net.host.port=8080' END,
      CASE WHEN t = 0 AND nhn_p THEN 'net.host.name=' || nhnv END,
      CASE WHEN t = 0 AND url_p THEN 'http.url=' || urlv END,
      CASE WHEN t = 0 AND cip_p THEN 'http.client_ip=' || cipv END,
      CASE WHEN t = 1 THEN 'rpc.system=grpc' END,
      CASE WHEN t = 1
           THEN 'rpc.grpc.status_code=' || CAST(q % 5 AS VARCHAR) END,
      CASE WHEN t = 2 THEN 'db.system=mysql' END,
      CASE WHEN t = 2 AND q % 2 = 0
           THEN 'db.statement=SELECT ' || CAST(q % 3 AS VARCHAR) END,
      CASE WHEN t = 2 AND q % 3 = 0
           THEN 'db.operation=op' || CAST(q % 3 AS VARCHAR) END,
      CASE WHEN t = 3 THEN 'messaging.system=kafka' END,
      CASE WHEN t = 3 AND q % 2 = 0
           THEN 'messaging.url=amqp://m' || CAST(q % 3 AS VARCHAR) END,
      CASE WHEN t IN (0, 1, 2, 3) AND pn_p
           THEN 'net.peer.name=' || pnv END,
      CASE WHEN t IN (0, 1, 2, 3) AND pip_p
           THEN 'net.peer.ip=' || pipv END,
      CASE WHEN t IN (0, 1, 2, 3) AND pport_p
           THEN 'net.peer.port=7070' END,
      CASE WHEN t = 4 AND q % 4 >= 2
           THEN 'za=zv' || CAST(q % 2 AS VARCHAR) END
    ], x -> x IS NOT NULL) AS span_props,
    list_filter([
      'otel.status_code=' ||
        CASE st WHEN 2 THEN 'STATUS_CODE_ERROR'
             WHEN 1 THEN 'STATUS_CODE_OK'
             ELSE 'STATUS_CODE_UNSET' END,
      CASE WHEN st = 2 THEN 'otel.status_description=boom' END,
      'rk=rv' || CAST(u % 2 AS VARCHAR),
      CASE WHEN u % 5 <> 0
           THEN 'service.name=svc' || CAST(u % 3 AS VARCHAR) END,
      CASE WHEN u % 4 = 0
           THEN 'service.namespace=ns' || CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 3 = 0 THEN 'service.instance.id=inst' ||
           CAST(u % 7 AS VARCHAR) END,
      CASE WHEN u % 9 <> 0 THEN 'instrumentationlibrary.name=lib' ||
           CAST(u % 2 AS VARCHAR) END,
      CASE WHEN u % 6 <> 0
           THEN 'instrumentationlibrary.version=1.' ||
                CAST(u % 3 AS VARCHAR) END,
      CASE WHEN e % 10 = 0 THEN '_MS.links=' ||
        '[{{"operation_Id":"lt1","id":"ls1"}}' ||
        CASE WHEN e % 20 = 0
             THEN ',{{"operation_Id":"lt2","id":"ls2"}}' ELSE '' END ||
        ']' END
    ], x -> x IS NOT NULL) AS extra_props
  FROM c
)
SELECT i,
  CASE WHEN is_req THEN 'Request' ELSE 'RemoteDependency' END AS kind,
  'Microsoft.ApplicationInsights.' ||
    CASE WHEN is_req THEN 'Request'
         ELSE 'RemoteDependency' END AS envelope_name,
  {rfc_start} AS time,
  lpad(lower(to_hex(1000 + u)), 32, '0') AS op_id,
  CASE WHEN e % 3 = 0 THEN ''
       ELSE lpad(lower(to_hex(e // 2 + 1)), 16, '0') END
    AS op_parent_id,
  CASE WHEN t <> 4 AND e % 4 = 0
       THEN 'u' || CAST(u % 5 AS VARCHAR) END AS user_id,
  CASE WHEN is_req THEN req_name END AS operation_name,
  CASE WHEN u % 5 <> 0 THEN
    CASE WHEN u % 4 = 0
         THEN 'ns' || CAST(u % 2 AS VARCHAR) || '.svc' ||
              CAST(u % 3 AS VARCHAR)
         ELSE 'svc' || CAST(u % 3 AS VARCHAR) END END AS cloud_role,
  CASE WHEN u % 3 = 0 THEN 'inst' || CAST(u % 7 AS VARCHAR) END
    AS cloud_role_instance,
  lpad(lower(to_hex(e + 1)), 16, '0') AS data_id,
  CASE WHEN is_req THEN req_name ELSE dep_name END AS name,
  lpad(CAST(dur_us // 86400000000 AS VARCHAR), 2, '0') || '.' ||
  lpad(CAST(dur_us % 86400000000 // 3600000000 AS VARCHAR), 2, '0')
    || ':' ||
  lpad(CAST(dur_us % 3600000000 // 60000000 AS VARCHAR), 2, '0')
    || ':' ||
  lpad(CAST(dur_us % 60000000 // 1000000 AS VARCHAR), 2, '0')
    || '.' ||
  lpad(CAST(dur_us % 1000000 AS VARCHAR), 6, '0') AS duration,
  resp_code AS response_code,
  success,
  CASE WHEN is_req THEN
    CASE WHEN t = 0 THEN req_url WHEN t = 1 THEN req_name END END
    AS url,
  CASE WHEN is_req THEN
    CASE WHEN t = 0 THEN
           CASE WHEN cip_p THEN cipv WHEN pip_p THEN pipv END
         WHEN t = 1 THEN peer
         WHEN t = 3 THEN
           CASE WHEN q % 2 = 0
                THEN 'amqp://m' || CAST(q % 3 AS VARCHAR)
                ELSE peer END END END AS source,
  CASE WHEN NOT is_req THEN
    CASE WHEN is_internal THEN 'InProc'
         WHEN t = 0 THEN 'HTTP'
         WHEN t = 1 THEN 'grpc'
         WHEN t = 2 THEN 'mysql'
         WHEN t = 3 THEN 'kafka' END END AS dep_type,
  CASE WHEN NOT is_req THEN
    CASE WHEN t = 0 THEN dep_http_data
         WHEN t = 1 THEN sname
         WHEN t = 2 THEN
           CASE WHEN q % 2 = 0
                THEN 'SELECT ' || CAST(q % 3 AS VARCHAR)
                WHEN q % 3 = 0 THEN 'op' || CAST(q % 3 AS VARCHAR) END
         WHEN t = 3 THEN
           CASE WHEN q % 2 = 0
                THEN 'amqp://m' || CAST(q % 3 AS VARCHAR) END END END
    AS dep_data,
  CASE WHEN NOT is_req THEN
    CASE WHEN t = 0 THEN dep_http_target
         WHEN t IN (1, 2) THEN peer
         WHEN t = 3 THEN
           CASE WHEN q % 2 = 0
                THEN 'amqp://m' || CAST(q % 3 AS VARCHAR)
                ELSE peer END END END AS dep_target,
  NULL AS exc_type, NULL AS exc_message, NULL AS exc_stack,
  CAST(NULL AS BOOLEAN) AS exc_has_full_stack,
  NULL AS severity_level, NULL AS message,
  array_to_string(list_sort(
    CASE WHEN is_req AND t = 2 THEN extra_props
         ELSE span_props || extra_props END), ',') AS properties
FROM d
UNION ALL
SELECT i, 'Exception', 'Microsoft.ApplicationInsights.Exception',
  {rfc_ev},
  lpad(lower(to_hex(1000 + u)), 32, '0'),
  lpad(lower(to_hex(e + 1)), 16, '0'),
  NULL, NULL,
  CASE WHEN u % 5 <> 0 THEN
    CASE WHEN u % 4 = 0
         THEN 'ns' || CAST(u % 2 AS VARCHAR) || '.svc' ||
              CAST(u % 3 AS VARCHAR)
         ELSE 'svc' || CAST(u % 3 AS VARCHAR) END END,
  CASE WHEN u % 3 = 0 THEN 'inst' || CAST(u % 7 AS VARCHAR) END,
  NULL, NULL, NULL, NULL, CAST(NULL AS BOOLEAN), NULL, NULL,
  NULL, NULL, NULL,
  'T' || CAST(e % 3 AS VARCHAR),
  CASE WHEN e % 2 = 0 THEN 'em' ELSE '' END,
  CASE WHEN e % 21 = 0 THEN 'st' ELSE '' END,
  e % 21 = 0,
  'Error', NULL,
  array_to_string(list_sort(list_filter([
    'exception.type=T' || CAST(e % 3 AS VARCHAR),
    CASE WHEN e % 2 = 0 THEN 'exception.message=em' END,
    CASE WHEN e % 21 = 0 THEN 'exception.stacktrace=st' END,
    'rk=rv' || CAST(u % 2 AS VARCHAR),
    CASE WHEN u % 5 <> 0
         THEN 'service.name=svc' || CAST(u % 3 AS VARCHAR) END,
    CASE WHEN u % 4 = 0
         THEN 'service.namespace=ns' || CAST(u % 2 AS VARCHAR) END,
    CASE WHEN u % 3 = 0
         THEN 'service.instance.id=inst' || CAST(u % 7 AS VARCHAR) END,
    CASE WHEN u % 9 <> 0
         THEN 'instrumentationlibrary.name=lib' ||
              CAST(u % 2 AS VARCHAR) END,
    CASE WHEN u % 6 <> 0
         THEN 'instrumentationlibrary.version=1.' ||
              CAST(u % 3 AS VARCHAR) END
  ], x -> x IS NOT NULL)), ',')
FROM a WHERE e % 7 = 0
""".format(
    rfc_start=_RFC3339.format(s="start_ns // 1000000000",
                              n="start_ns % 1000000000"),
    rfc_ev=_RFC3339.format(s="(start_ns + 5) // 1000000000",
                           n="(start_ns + 5) % 1000000000"))


EXT26_QUERIES["azuremonitor_spans"] = q_azuremonitor_spans
EXT26_ORACLES["azuremonitor_spans"] = O_AZUREMONITOR_SPANS


def q_awsemf_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.awsemf_export import awsemf_events

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731

    fx = ev.select(
        F.concat(F.lit("m"), s(e % 9)).alias("name"),
        F.when(e % 2 == 0, F.lit("ms")).otherwise(F.lit(""))
        .alias("unit"),
        F.when(e % 20 == 3, F.lit("exphist")).otherwise(
            F.when(e % 4 == 0, F.lit("gauge"))
            .when(e % 4 == 1, F.lit("sum"))
            .when(e % 4 == 2, F.lit("histogram"))
            .otherwise(F.lit("summary"))).alias("mtype"),
        F.when(u % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("lib"), s(u % 2))).alias("scope_name"),
        omap(
            (F.lit(True), "dim1", F.concat(F.lit("a"), s(u % 3))),
            (u % 2 == 0, "dim2", F.concat(F.lit("b"), s(u % 5))),
            (u % 7 == 0, "aws.emf.storage_resolution", F.lit("30")),
        ).alias("attrs"),
        omap(
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 4 == 0, "service.namespace", F.lit("ns0")),
            (u % 6 == 0, "receiver", F.lit("prometheus")),
        ).alias("res_attrs"),
        (e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        F.when((e % 30 == 7) & (e % 2 != 0), d(F.lit(float("nan"))))
        .otherwise(d((u % 4) * 0.25)).alias("vdouble"),
        (e % 50 + 2).cast("bigint").alias("count"),
        d((u % 10) * 1.5).alias("sum"),
        F.when(u % 5 != 0, F.lit(0.25)).cast("double").alias("min"),
        F.when(u % 6 != 0, d((u % 7) * 2.0)).alias("max"),
    )

    return awsemf_events(fx, timestamp_ms=1700000000000)


O_AWSEMF_EXPORT = """
WITH raw AS (
  SELECT user_id AS u, event_id AS e,
    'm' || CAST(event_id % 9 AS VARCHAR) AS name,
    CASE WHEN event_id % 2 = 0 THEN 'ms' ELSE '' END AS unit,
    CASE WHEN event_id % 20 = 3 THEN 'exphist'
         WHEN event_id % 4 = 0 THEN 'gauge'
         WHEN event_id % 4 = 1 THEN 'sum'
         WHEN event_id % 4 = 2 THEN 'histogram'
         ELSE 'summary' END AS mt
  FROM events
), pts AS (
  SELECT *,
    CASE WHEN u % 5 <> 0 AND u % 4 = 0
         THEN 'ns0/svc' || CAST(u % 3 AS VARCHAR)
         WHEN u % 5 <> 0 THEN 'svc' || CAST(u % 3 AS VARCHAR)
         WHEN u % 4 = 0 THEN 'ns0'
         ELSE 'default' END AS ns,
    u % 6 = 0 AS prom,
    u % 9 <> 0 AS has_otel,
    CASE WHEN u % 9 <> 0
         THEN 'lib' || CAST(u % 2 AS VARCHAR) ELSE '' END AS otellib,
    u % 2 = 0 AS has_dim2,
    'a' || CAST(u % 3 AS VARCHAR) AS d1v,
    CASE WHEN u % 2 = 0
         THEN 'b' || CAST(u % 5 AS VARCHAR) ELSE '' END AS d2v,
    CASE WHEN u % 7 = 0 THEN 30 ELSE 60 END AS stor,
    CASE WHEN mt IN ('gauge', 'sum') THEN
      CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
           ELSE regexp_replace(
             CAST(CAST((u % 4) * 0.25 AS DOUBLE) AS VARCHAR),
             '\\.0$', '') END
    ELSE '{"Max":' ||
      regexp_replace(CAST(CAST(CASE WHEN u % 6 <> 0
        THEN (u % 7) * 2.0 ELSE 0 END AS DOUBLE) AS VARCHAR),
        '\\.0$', '') ||
      ',"Min":' || CASE WHEN u % 5 <> 0 THEN '0.25' ELSE '0' END ||
      ',"Count":' || CAST(e % 50 + 2 AS VARCHAR) ||
      ',"Sum":' || regexp_replace(
        CAST(CAST((u % 10) * 1.5 AS DOUBLE) AS VARCHAR),
        '\\.0$', '') || '}' END AS vjson
  FROM raw
  WHERE mt <> 'exphist'
    AND NOT (mt IN ('gauge', 'sum') AND e % 2 <> 0 AND e % 30 = 7)
), dedup AS (
  SELECT *, row_number() OVER (
      PARTITION BY ns, mt, has_otel, otellib, has_dim2, d1v, d2v,
                   stor, prom, name
      ORDER BY unit, vjson) AS rn
  FROM pts
), grp AS (
  SELECT ns, mt, has_otel, otellib, has_dim2, d1v, d2v, stor, prom,
    string_agg('"' || name || '":' || vjson, chr(30) ORDER BY name)
      AS met_fields,
    string_agg('{"Name":"' || name || '","Unit":"' || unit ||
               '","StorageResolution":' || CAST(stor AS VARCHAR) ||
               '}', ',' ORDER BY name) AS met_infos
  FROM dedup WHERE rn = 1
  GROUP BY ns, mt, has_otel, otellib, has_dim2, d1v, d2v, stor, prom
), dims AS (
  SELECT *,
    -- full set kept only when >1 non-OTelLib label (dim2 present)
    CASE WHEN has_dim2 THEN
      CASE WHEN has_otel
           THEN '["OTelLib","dim1","dim2"],' ELSE '["dim1","dim2"],'
      END ELSE '' END ||
    CASE WHEN has_otel THEN '["OTelLib"],' ELSE '[],' END ||
    CASE WHEN has_otel THEN '["OTelLib","dim1"]'
         ELSE '["dim1"]' END ||
    CASE WHEN has_dim2 THEN
      CASE WHEN has_otel THEN ',["OTelLib","dim2"]'
           ELSE ',["dim2"]' END ELSE '' END AS dims_json
  FROM grp
)
SELECT ns AS namespace,
  '/metrics/' || ns AS log_group,
  'otel-stream' AS log_stream,
  1700000000000 AS timestamp_ms,
  '{' || array_to_string(list_sort(list_filter([
    CASE WHEN has_otel THEN '"OTelLib":"' || otellib || '"' END,
    '"Version":"1"',
    '"_aws":{"CloudWatchMetrics":[{"Namespace":"' || ns ||
      '","Dimensions":[' || dims_json || '],"Metrics":[' ||
      met_infos || ']}],"Timestamp":1700000000000}',
    '"dim1":"' || d1v || '"',
    CASE WHEN has_dim2 THEN '"dim2":"' || d2v || '"' END,
    CASE WHEN prom THEN '"prom_metric_type":"' ||
      CASE mt WHEN 'gauge' THEN 'gauge' WHEN 'sum' THEN 'counter'
           WHEN 'histogram' THEN 'histogram'
           ELSE 'summary' END || '"' END
  ] || string_split(met_fields, chr(30)),
  x -> x IS NOT NULL)), ',') || '}' AS body
FROM dims
"""


EXT26_QUERIES["awsemf_export"] = q_awsemf_export
EXT26_ORACLES["awsemf_export"] = O_AWSEMF_EXPORT


def q_logservice_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.logservice_export import logservice_logs

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.when(e % 17 == 0, F.lit(None).cast("string"))
        .when(e % 19 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("b-"), F.col("event_type")))
        .alias("body"),
        F.when(e % 6 == 0, F.lit(0)).otherwise(
            F.lit(1700000000000000000) + e * 1234567).cast("bigint")
        .alias("ts_ns"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.when(e % 11 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(e + 1)), 16, "0")).alias("span_id"),
        (e % 26).cast("int").alias("severity_number"),
        F.concat(F.lit("sev"), s(e % 5)).alias("severity_text"),
        (e % 256).cast("bigint").alias("flags"),
        omap(
            (e % 3 != 0, "zk", F.concat(F.lit("v"), s(e % 4))),
            (F.lit(True), "ak", F.concat(F.lit("w"), s(u % 3))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 2 == 0, "rk", F.concat(F.lit("rv"), s(u % 4))),
        ).alias("res_attrs"),
        F.concat(F.lit("lib"), s(u % 2)).alias("scope_name"),
        F.when(u % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("1."), s(u % 3))).alias("scope_version"),
    )

    return logservice_logs(fx, id_cols=["i"])


O_LOGSERVICE_EXPORT = """
SELECT event_id AS i,
  CASE WHEN event_id % 6 <> 0
       THEN (1700000000000000000 + event_id * 1234567) // 1000000000
       END AS time_s,
  CASE WHEN user_id % 3 <> 0
       THEN 'h' || CAST(user_id % 5 AS VARCHAR) ELSE '' END AS host,
  CASE WHEN user_id % 5 <> 0
       THEN 'svc' || CAST(user_id % 3 AS VARCHAR) ELSE '' END
    AS service,
  CASE WHEN user_id % 2 = 0
       THEN '{"rk":"rv' || CAST(user_id % 4 AS VARCHAR) || '"}'
       ELSE '{}' END AS resource,
  'lib' || CAST(user_id % 2 AS VARCHAR) AS otlp_name,
  CASE WHEN user_id % 6 = 0 THEN ''
       ELSE '1.' || CAST(user_id % 3 AS VARCHAR) END AS otlp_version,
  CASE WHEN event_id % 6 = 0 THEN '0'
       ELSE CAST(1700000000000000000 + event_id * 1234567 AS VARCHAR)
       END AS time_unix_nano,
  CAST(event_id % 26 AS VARCHAR) AS severity_number,
  'sev' || CAST(event_id % 5 AS VARCHAR) AS severity_text,
  '{"ak":"w' || CAST(user_id % 3 AS VARCHAR) || '"' ||
  CASE WHEN event_id % 3 <> 0
       THEN ',"zk":"v' || CAST(event_id % 4 AS VARCHAR) || '"'
       ELSE '' END || '}' AS attribute,
  CASE WHEN event_id % 19 = 0 THEN ''
       ELSE 'b-' || event_type END AS content,
  lower(to_hex(event_id % 256)) AS flags,
  CASE WHEN event_id % 13 = 0 THEN ''
       ELSE lpad(lower(to_hex(1000 + user_id)), 32, '0') END
    AS trace_id,
  CASE WHEN event_id % 11 = 0 THEN ''
       ELSE lpad(lower(to_hex(event_id + 1)), 16, '0') END AS span_id
FROM events WHERE event_id % 17 <> 0
"""


EXT26_QUERIES["logservice_export"] = q_logservice_export
EXT26_ORACLES["logservice_export"] = O_LOGSERVICE_EXPORT


def q_logservice_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.logservice_export import logservice_spans

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    start = F.lit(1700000000000000000) + e * 1234567

    fx = ev.select(
        e.alias("i"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.lpad(F.lower(F.hex(e + 1)), 16, "0").alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.floor(e / 2) + 1)), 16, "0"))
        .alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (e % 7).cast("int").alias("kind"),
        F.when(e % 10 == 5, F.lit(0)).otherwise(start).cast("bigint")
        .alias("start_ns"),
        F.when(e % 6 == 0, F.lit(0)).otherwise(
            start + (e % 997 + 1) * 1000).cast("bigint")
        .alias("end_ns"),
        F.when(e % 11 == 0, F.lit(2)).when(e % 11 == 1, F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("status_code"),
        F.when(e % 11 == 0, F.lit("boom")).otherwise(F.lit(""))
        .alias("status_message"),
        F.when(e % 4 == 0, F.lit("a=b")).otherwise(F.lit(""))
        .alias("trace_state"),
        omap(
            (e % 3 != 0, "ak", F.concat(F.lit("x"), s(e % 3))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
            (u % 5 != 0, "service.name",
             F.concat(F.lit("svc"), s(u % 3))),
            (u % 2 == 0, "rk", F.concat(F.lit("rv"), s(u % 4))),
        ).alias("res_attrs"),
        F.concat(F.lit("lib"), s(u % 2)).alias("scope_name"),
        F.concat(F.lit("1."), s(u % 3)).alias("scope_version"),
        F.when(e % 5 == 0, F.array(F.struct(
            (start + 5).cast("bigint").alias("ts_ns"),
            F.lit("ev").alias("name"),
            F.create_map(F.lit("m"), F.lit("1")).alias("attrs"))))
        .alias("events"),
        F.when(e % 10 == 0, F.array(F.struct(
            F.lit("lt").alias("trace_id"),
            F.lit("ls").alias("span_id"),
            F.map_from_arrays(F.array().cast("array<string>"),
                              F.array().cast("array<string>"))
            .alias("attrs")))).alias("links"),
    )

    return logservice_spans(fx, id_cols=["i"])


O_LOGSERVICE_SPANS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1234567 AS start0,
         CASE WHEN event_id % 10 = 5 THEN 0
              ELSE 1700000000000000000 + event_id * 1234567 END
           AS start_ns,
         CASE WHEN event_id % 6 = 0 THEN 0
              ELSE 1700000000000000000 + event_id * 1234567
                   + (event_id % 997 + 1) * 1000 END AS end_ns
  FROM events
)
SELECT i,
  CASE WHEN end_ns > 0 THEN end_ns // 1000000000 END AS time_s,
  CASE WHEN u % 3 <> 0 THEN 'h' || CAST(u % 5 AS VARCHAR)
       ELSE '' END AS host,
  CASE WHEN u % 5 <> 0 THEN 'svc' || CAST(u % 3 AS VARCHAR)
       ELSE '' END AS service,
  CASE WHEN u % 2 = 0
       THEN '{"rk":"rv' || CAST(u % 4 AS VARCHAR) || '"}'
       ELSE '{}' END AS resource,
  'lib' || CAST(u % 2 AS VARCHAR) AS otlp_name,
  '1.' || CAST(u % 3 AS VARCHAR) AS otlp_version,
  CASE WHEN e % 13 = 0 THEN ''
       ELSE lpad(lower(to_hex(1000 + u)), 32, '0') END AS trace_id,
  lpad(lower(to_hex(e + 1)), 16, '0') AS span_id,
  CASE WHEN e % 3 = 0 THEN ''
       ELSE lpad(lower(to_hex(e // 2 + 1)), 16, '0') END
    AS parent_span_id,
  CASE e % 7 WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
       WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
       WHEN 5 THEN 'consumer' ELSE 'unspecified' END AS kind,
  'op-' || event_type AS name,
  CASE WHEN e % 10 = 0 THEN
    '[{"attribute":{},"spanID":"ls","traceID":"lt"}]'
  ELSE '[]' END AS links,
  CASE WHEN e % 5 = 0 THEN
    '[{"attribute":{"m":"1"},"name":"ev","time":' ||
    CAST(start0 + 5 AS VARCHAR) || '}]'
  ELSE '[]' END AS logs,
  CASE WHEN e % 4 = 0 THEN 'a=b' ELSE '' END AS trace_state,
  CAST(start_ns // 1000 AS VARCHAR) AS start,
  CAST(end_ns // 1000 AS VARCHAR) AS "end",
  CAST((end_ns - start_ns) // 1000 AS VARCHAR) AS duration,
  CASE WHEN e % 3 <> 0
       THEN '{"ak":"x' || CAST(e % 3 AS VARCHAR) || '"}'
       ELSE '{}' END AS attribute,
  CASE WHEN e % 11 = 0 THEN 'ERROR' WHEN e % 11 = 1 THEN 'OK'
       ELSE 'UNSET' END AS status_code,
  CASE WHEN e % 11 = 0 THEN 'boom' ELSE '' END AS status_message
FROM a
"""


EXT26_QUERIES["logservice_spans"] = q_logservice_spans
EXT26_ORACLES["logservice_spans"] = O_LOGSERVICE_SPANS


def q_logservice_metrics(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    from ..operators.logservice_export import logservice_metrics

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("met-"), s(e % 6)).alias("name"),
        F.when(e % 5 == 0, F.lit("gauge"))
        .when(e % 5 == 1, F.lit("sum"))
        .when(e % 5 == 2, F.lit("histogram"))
        .when(e % 5 == 3, F.lit("summary"))
        .when(e % 2 == 0, F.lit("exphist")).otherwise(F.lit("empty"))
        .alias("mtype"),
        (F.lit(1700000000000000000) + e * 1000000000).cast("bigint")
        .alias("ts_ns"),
        omap(
            (F.lit(True), "dim.a", F.concat(F.lit("x"), s(e % 3))),
            (u % 4 == 0, "1b", F.concat(F.lit("y"), s(u % 2))),
            (u % 3 == 0, "_z", F.concat(F.lit("w"), s(u % 3))),
        ).alias("attrs"),
        omap(
            (F.lit(True), "rk", F.concat(F.lit("rv"), s(u % 2))),
            (u % 2 == 0, "h-n", F.concat(F.lit("hv"), s(u % 5))),
        ).alias("res_attrs"),
        F.when(e % 35 == 0, F.lit(None).cast("boolean"))
        .otherwise(e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        d((u % 4) * 0.25).alias("vdouble"),
        F.when(e % 5 == 2, e % 50 + 2).otherwise(e % 30 + 1)
        .cast("bigint").alias("count"),
        F.when(u % 4 != 0, d((u % 10) * 1.5)).alias("sum"),
        F.array(F.lit(0.0), F.lit(1.0), F.lit(2.5)).alias("bounds"),
        F.when(e % 20 == 2,
               F.array(F.lit(1), F.lit(2)).cast("array<bigint>"))
        .when(e % 15 == 2, F.array().cast("array<bigint>"))
        .otherwise(F.array(e % 3, e % 4, e % 5 + 1, F.lit(7))
                   .cast("array<bigint>")).alias("bucket_counts"),
        F.when(u % 2 == 0, F.array(
            F.struct(F.lit(0.5).alias("q"),
                     d((u % 5) * 0.25).alias("v")),
            F.struct(F.lit(0.99).alias("q"),
                     d((u % 9) * 0.5).alias("v"))))
        .otherwise(F.array().cast(
            "array<struct<q:double,v:double>>")).alias("quantiles"),
    )

    return logservice_metrics(fx, id_cols=["i"])


O_LOGSERVICE_METRICS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e,
    'met_' || CAST(event_id % 6 AS VARCHAR) AS fname,
    1700000000 + event_id AS time_s,
    CAST(1700000000000000000 + event_id * 1000000000 AS VARCHAR)
      AS time_nano,
    regexp_replace(CAST(CAST((user_id % 10) * 1.5 AS DOUBLE)
      AS VARCHAR), '\\.0$', '') AS sum_g
  FROM events
), b AS (
  SELECT *,
    'dim_a#$#x' || CAST(e % 3 AS VARCHAR) ||
    CASE WHEN u % 2 = 0
         THEN '|h_n#$#hv' || CAST(u % 5 AS VARCHAR) ELSE '' END ||
    CASE WHEN u % 4 = 0
         THEN '|key_1b#$#y' || CAST(u % 2 AS VARCHAR) ELSE '' END ||
    CASE WHEN u % 3 = 0
         THEN '|key_z#$#w' || CAST(u % 3 AS VARCHAR) ELSE '' END
      AS pre,
    '|rk#$#rv' || CAST(u % 2 AS VARCHAR) AS post,
    CASE WHEN u % 4 <> 0 THEN sum_g ELSE '0' END AS sum_v,
    CASE WHEN e % 5 = 2 THEN CAST(e % 50 + 2 AS VARCHAR)
         ELSE CAST(e % 30 + 1 AS VARCHAR) END AS count_v
  FROM a
)
SELECT i, time_s, fname AS metric_name, pre || post AS labels,
  time_nano,
  CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
       ELSE regexp_replace(CAST(CAST((u % 4) * 0.25 AS DOUBLE)
         AS VARCHAR), '\\.0$', '') END AS value
FROM b WHERE e % 5 IN (0, 1) AND e % 35 <> 0
UNION ALL
SELECT i, time_s, fname || '_sum', pre || post, time_nano, sum_v
FROM b WHERE e % 5 IN (2, 3)
UNION ALL
SELECT i, time_s, fname || '_count', pre || post, time_nano, count_v
FROM b WHERE e % 5 IN (2, 3)
UNION ALL
SELECT i, time_s, fname || '_bucket',
  pre || '|le#$#' || ub || post, time_nano, cnt
FROM (
  SELECT i, time_s, fname, pre, post, time_nano, j,
    CASE j WHEN 1 THEN '0' WHEN 2 THEN '1' WHEN 3 THEN '2.5'
         ELSE '+Inf' END AS ub,
    CASE WHEN e % 20 = 2 THEN
      CASE j WHEN 1 THEN '1' WHEN 2 THEN '2' END
    WHEN e % 15 = 2 THEN NULL
    ELSE CASE j WHEN 1 THEN CAST(e % 3 AS VARCHAR)
         WHEN 2 THEN CAST(e % 4 AS VARCHAR)
         WHEN 3 THEN CAST(e % 5 + 1 AS VARCHAR) ELSE '7' END
    END AS cnt
  FROM b, (SELECT unnest(generate_series(1, 4)) AS j)
  WHERE e % 5 = 2
) WHERE cnt IS NOT NULL
UNION ALL
SELECT i, time_s, fname,
  pre || '|quantile#$#' || CASE j WHEN 1 THEN '0.5' ELSE '0.99' END
  || post, time_nano,
  CASE j WHEN 1 THEN regexp_replace(
    CAST(CAST((u % 5) * 0.25 AS DOUBLE) AS VARCHAR), '\\.0$', '')
  ELSE regexp_replace(
    CAST(CAST((u % 9) * 0.5 AS DOUBLE) AS VARCHAR), '\\.0$', '') END
FROM b, (SELECT unnest(generate_series(1, 2)) AS j)
WHERE e % 5 = 3 AND u % 2 = 0
"""


EXT26_QUERIES["logservice_metrics"] = q_logservice_metrics
EXT26_ORACLES["logservice_metrics"] = O_LOGSERVICE_METRICS


def _opensearch_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    return ev.select(
        e.alias("i"),
        F.when(e % 17 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("b-"), F.col("event_type"))).alias("body"),
        (F.lit(1700000000000000000) + e * 1234567).cast("bigint")
        .alias("ts_ns"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.when(e % 11 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(e + 1)), 16, "0")).alias("span_id"),
        (e % 26).cast("int").alias("severity_number"),
        F.when(e % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("sev"), s(e % 5))).alias("severity_text"),
        (e % 256).cast("bigint").alias("flags"),
        omap(
            (F.lit(True), "app.name", F.concat(F.lit("x"), s(e % 3))),
            (e % 4 == 0, "app", F.concat(F.lit("p"), s(u % 2))),
            (e % 2 == 0, "zz", F.concat(F.lit("z"), s(u % 3))),
        ).alias("attrs"),
        omap(
            (F.lit(True), "rk", F.concat(F.lit("rv"), s(u % 2))),
            (u % 3 == 0, "app.name", F.concat(F.lit("ry"), s(u % 4))),
        ).alias("res_attrs"),
    )


def q_opensearch_log_docs(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ..operators.opensearch_export import opensearch_log_documents

    return opensearch_log_documents(
        _opensearch_fixture(spark, sf_dir), id_cols=["i"])


O_OPENSEARCH_LOG_DOCS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1234567 AS ts
  FROM events
)
SELECT i,
  '{"@timestamp":"' ||
  strftime(make_timestamp((ts // 1000000000) * 1000000),
           '%Y-%m-%dT%H:%M:%S') || '.' ||
  lpad(CAST(ts % 1000000000 AS VARCHAR), 9, '0') || 'Z"' ||
  ',"Attributes":{"app":{"name":"x' || CAST(e % 3 AS VARCHAR) ||
  '"' ||
  CASE WHEN e % 4 = 0
       THEN ',"value":"p' || CAST(u % 2 AS VARCHAR) || '"'
       ELSE '' END || '}' ||
  ',"rk":"rv' || CAST(u % 2 AS VARCHAR) || '"' ||
  CASE WHEN e % 2 = 0
       THEN ',"zz":"z' || CAST(u % 3 AS VARCHAR) || '"'
       ELSE '' END || '}' ||
  CASE WHEN e % 17 <> 0
       THEN ',"Body":"b-' || event_type || '"' ELSE '' END ||
  ',"SeverityNumber":' || CAST(e % 26 AS VARCHAR) ||
  CASE WHEN e % 5 <> 0
       THEN ',"SeverityText":"sev' || CAST(e % 5 AS VARCHAR) || '"'
       ELSE '' END ||
  CASE WHEN e % 11 <> 0
       THEN ',"SpanId":"' || lpad(lower(to_hex(e + 1)), 16, '0') ||
            '"' ELSE '' END ||
  ',"TraceFlags":' || CAST(e % 256 AS VARCHAR) ||
  CASE WHEN e % 13 <> 0
       THEN ',"TraceId":"' || lpad(lower(to_hex(1000 + u)), 32, '0')
            || '"' ELSE '' END ||
  '}' AS document
FROM a
"""


def q_opensearch_log_docs_flat(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..operators.opensearch_export import opensearch_log_documents

    return opensearch_log_documents(
        _opensearch_fixture(spark, sf_dir), id_cols=["i"],
        flatten_attributes=True, dedup=False, dedot=False,
        timestamp_field="ts", unix_time=True)


O_OPENSEARCH_LOG_DOCS_FLAT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1234567 AS ts
  FROM events
)
SELECT i,
  -- insertion order, flat dotted keys, no dedup
  '{"rk":"rv' || CAST(u % 2 AS VARCHAR) || '"' ||
  CASE WHEN u % 3 = 0
       THEN ',"app.name":"ry' || CAST(u % 4 AS VARCHAR) || '"'
       ELSE '' END ||
  ',"ts":' || CAST(ts // 1000000 AS VARCHAR) ||
  CASE WHEN e % 13 <> 0
       THEN ',"TraceId":"' || lpad(lower(to_hex(1000 + u)), 32, '0')
            || '"' ELSE '' END ||
  CASE WHEN e % 11 <> 0
       THEN ',"SpanId":"' || lpad(lower(to_hex(e + 1)), 16, '0') ||
            '"' ELSE '' END ||
  ',"TraceFlags":' || CAST(e % 256 AS VARCHAR) ||
  CASE WHEN e % 5 <> 0
       THEN ',"SeverityText":"sev' || CAST(e % 5 AS VARCHAR) || '"'
       ELSE '' END ||
  ',"SeverityNumber":' || CAST(e % 26 AS VARCHAR) ||
  CASE WHEN e % 17 <> 0
       THEN ',"Body":"b-' || event_type || '"' ELSE '' END ||
  ',"app.name":"x' || CAST(e % 3 AS VARCHAR) || '"' ||
  CASE WHEN e % 4 = 0
       THEN ',"app":"p' || CAST(u % 2 AS VARCHAR) || '"'
       ELSE '' END ||
  CASE WHEN e % 2 = 0
       THEN ',"zz":"z' || CAST(u % 3 AS VARCHAR) || '"'
       ELSE '' END ||
  '}' AS document
FROM a
"""


EXT26_QUERIES["opensearch_log_docs"] = q_opensearch_log_docs
EXT26_ORACLES["opensearch_log_docs"] = O_OPENSEARCH_LOG_DOCS
EXT26_QUERIES["opensearch_log_docs_flat"] = q_opensearch_log_docs_flat
EXT26_ORACLES["opensearch_log_docs_flat"] = O_OPENSEARCH_LOG_DOCS_FLAT
