"""Round-5 queries (cont. 9): OTLP → Splunk HEC event export
(``exporter/splunkhecexporter/{logdata,metricdata,tracedata}_to_
splunk.go``).

Fixtures derive OTLP-shaped log/metric/span tables from ``events``;
oracles rebuild the routing columns, sorted fields CSVs, and (for
spans) the hecSpan JSON body directly from the same residue classes.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT25_QUERIES: dict[str, QueryFn] = {}
EXT25_ORACLES: dict[str, str] = {}


def q_splunk_hec_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splunk_hec import splunk_hec_logs

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    t = F.lit(True)

    fx = ev.select(
        e.alias("i"),
        F.when(e % 19 == 0, F.lit("")).otherwise(
            F.concat(F.lit("msg-"), F.col("event_type"), F.lit("-"),
                     s(e % 7))).alias("body"),
        F.when(e % 6 == 0, F.lit(0)).otherwise(
            F.lit(1700000000000000000) + e * 1234567)
        .cast("bigint").alias("ts_ns"),
        (F.lit(1690000000000000000) + e * 1000000).cast("bigint")
        .alias("observed_ts_ns"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.when(e % 11 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(e + 1)), 16, "0")).alias("span_id"),
        F.when(e % 5 == 0, F.lit("")).otherwise(
            F.when(u % 2 == 0, F.lit("INFO")).otherwise(F.lit("WARN")))
        .alias("severity_text"),
        F.when(e % 3 == 0, F.lit(0)).otherwise(u % 24 + 1).cast("int")
        .alias("severity_number"),
        omap(
            (t, "k", F.concat(F.lit("v"), s(e % 4))),
            (e % 9 == 0, "host.name", F.concat(F.lit("ha"), s(e % 2))),
            (e % 8 == 0, "env", F.concat(F.lit("dev"), s(e % 2))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
            (u % 4 == 0, "com.splunk.source",
             F.concat(F.lit("s"), s(u % 2))),
            (t, "env", F.concat(F.lit("prod"), s(u % 3))),
            (u % 6 == 0, "com.splunk.hec.access_token", F.lit("shh")),
        ).alias("res_attrs"),
    )

    return splunk_hec_logs(fx, id_cols=["i"], source="defsrc",
                           sourcetype="defst", index="defidx")


O_SPLUNK_HEC_LOGS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type
  FROM events
)
SELECT i,
  e % 19 <> 0 AS hec_ok,
  CASE WHEN e % 6 = 0
       THEN (1690000000000 + e) / 1000.0
       ELSE ((1700000000000000000 + e * 1234567 + 500000)
             // 1000000) / 1000.0 END AS time,
  CASE WHEN e % 9 = 0 THEN 'ha' || CAST(e % 2 AS VARCHAR)
       WHEN u % 3 <> 0 THEN 'h' || CAST(u % 5 AS VARCHAR)
       ELSE 'unknown' END AS host,
  CASE WHEN u % 4 = 0 THEN 's' || CAST(u % 2 AS VARCHAR)
       ELSE 'defsrc' END AS source,
  'defst' AS sourcetype,
  'defidx' AS index,
  CASE WHEN e % 19 = 0 THEN ''
       ELSE 'msg-' || event_type || '-' || CAST(e % 7 AS VARCHAR) END
    AS event,
  COALESCE(array_to_string(list_sort(list_filter([
    CASE WHEN e % 11 <> 0
         THEN 'span_id=' || lpad(lower(to_hex(e + 1)), 16, '0') END,
    CASE WHEN e % 13 <> 0
         THEN 'trace_id=' || lpad(lower(to_hex(1000 + u)), 32, '0') END,
    CASE WHEN e % 5 <> 0 THEN 'otel.log.severity.text=' ||
         CASE WHEN u % 2 = 0 THEN 'INFO' ELSE 'WARN' END END,
    CASE WHEN e % 3 <> 0
         THEN 'otel.log.severity.number=' ||
              CAST(u % 24 + 1 AS VARCHAR) END,
    'env=' || CASE WHEN e % 8 = 0 THEN 'dev' || CAST(e % 2 AS VARCHAR)
                   ELSE 'prod' || CAST(u % 3 AS VARCHAR) END,
    'k=v' || CAST(e % 4 AS VARCHAR)
  ], x -> x IS NOT NULL)), ','), '') AS fields
FROM a
"""


def q_splunk_hec_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splunk_hec import splunk_hec_metrics

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731
    t = F.lit(True)

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
            (e % 7 != 0, "q", F.concat(F.lit("z"), s(u % 2))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
            (u % 4 == 0, "com.splunk.source",
             F.concat(F.lit("s"), s(u % 2))),
            (t, "env", F.concat(F.lit("prod"), s(u % 3))),
            (u % 6 == 0, "com.splunk.hec.access_token", F.lit("shh")),
        ).alias("res_attrs"),
        F.when(e % 35 == 0, F.lit(None).cast("boolean"))
        .otherwise(e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        d((u % 4) * 0.25).alias("vdouble"),
        F.when(e % 5 == 2, e % 50 + 2).otherwise(e % 30 + 1)
        .cast("bigint").alias("count"),
        F.when(e % 5 == 2,
               F.when(u % 4 != 0, d((u % 10) * 1.5)))
        .otherwise(d((u % 9) * 1.25)).alias("sum"),
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

    return splunk_hec_metrics(fx, id_cols=["i"], source="defsrc",
                              sourcetype="defst", index="defidx")


O_SPLUNK_HEC_METRICS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e,
         'met' || CAST(event_id % 6 AS VARCHAR) AS name,
         (1700000000000 + event_id) / 1000.0 AS time
  FROM events
), r AS (
  SELECT *,
    CASE WHEN u % 3 <> 0 THEN 'h' || CAST(u % 5 AS VARCHAR)
         ELSE 'unknown' END AS host,
    CASE WHEN u % 4 = 0 THEN 's' || CAST(u % 2 AS VARCHAR)
         ELSE 'defsrc' END AS source,
    list_filter([
      'env=prod' || CAST(u % 3 AS VARCHAR),
      CASE WHEN e % 7 <> 0 THEN 'k=v' || CAST(e % 3 AS VARCHAR) END,
      CASE WHEN e % 7 <> 0 THEN 'q=z' || CAST(u % 2 AS VARCHAR) END
    ], x -> x IS NOT NULL) AS base
  FROM a
), pts AS (
  SELECT i, time, host, source, base, 'Gauge' AS mt, NULL AS extra,
    CASE WHEN e % 35 <> 0 THEN
      'metric_name:' || name || '=' ||
      CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
           ELSE CAST(CAST((u % 4) * 0.25 AS DOUBLE) AS VARCHAR) END END AS val
  FROM r WHERE e % 5 = 0
  UNION ALL
  SELECT i, time, host, source, base, 'Sum', NULL,
    CASE WHEN e % 35 <> 0 THEN
      'metric_name:' || name || '=' ||
      CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
           ELSE CAST(CAST((u % 4) * 0.25 AS DOUBLE) AS VARCHAR) END END
  FROM r WHERE e % 5 = 1
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', NULL,
    'metric_name:' || name || '_sum=' ||
    CAST(CAST((u % 10) * 1.5 AS DOUBLE) AS VARCHAR)
  FROM r WHERE e % 5 = 2 AND u % 4 <> 0
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', NULL,
    'metric_name:' || name || '_count=' || CAST(e % 50 + 2 AS VARCHAR)
  FROM r WHERE e % 5 = 2
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', 'le=0',
    'metric_name:' || name || '_bucket=' || CAST(e % 3 AS VARCHAR)
  FROM r WHERE e % 5 = 2 AND e % 20 <> 2 AND e % 15 <> 2
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', 'le=1',
    'metric_name:' || name || '_bucket=' ||
    CAST(e % 3 + e % 4 AS VARCHAR)
  FROM r WHERE e % 5 = 2 AND e % 20 <> 2 AND e % 15 <> 2
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', 'le=2.5',
    'metric_name:' || name || '_bucket=' ||
    CAST(e % 3 + e % 4 + e % 5 + 1 AS VARCHAR)
  FROM r WHERE e % 5 = 2 AND e % 20 <> 2 AND e % 15 <> 2
  UNION ALL
  SELECT i, time, host, source, base, 'Histogram', 'le=+Inf',
    'metric_name:' || name || '_bucket=' ||
    CAST(e % 3 + e % 4 + e % 5 + 8 AS VARCHAR)
  FROM r WHERE e % 5 = 2 AND e % 20 <> 2 AND e % 15 <> 2
  UNION ALL
  SELECT i, time, host, source, base, 'Summary', NULL,
    'metric_name:' || name || '_sum=' ||
    CAST(CAST((u % 9) * 1.25 AS DOUBLE) AS VARCHAR)
  FROM r WHERE e % 5 = 3
  UNION ALL
  SELECT i, time, host, source, base, 'Summary', NULL,
    'metric_name:' || name || '_count=' ||
    CAST(e % 30 + 1 AS VARCHAR)
  FROM r WHERE e % 5 = 3
  UNION ALL
  SELECT i, time, host, source, base, 'Summary', 'qt=0.5',
    'metric_name:' || name || '_0.5=' ||
    CAST(CAST((u % 5) * 0.25 AS DOUBLE) AS VARCHAR)
  FROM r WHERE e % 5 = 3 AND u % 2 = 0
  UNION ALL
  SELECT i, time, host, source, base, 'Summary', 'qt=0.99',
    'metric_name:' || name || '_0.99=' ||
    CAST(CAST((u % 9) * 0.5 AS DOUBLE) AS VARCHAR)
  FROM r WHERE e % 5 = 3 AND u % 2 = 0
)
SELECT i, time, host, source, 'defst' AS sourcetype,
  'defidx' AS index, 'metric' AS event,
  array_to_string(list_sort(list_filter(
    list_append(list_append(base, 'metric_type=' || mt),
                extra) || [val],
    x -> x IS NOT NULL)), ',') AS fields
FROM pts
"""


def q_splunk_hec_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splunk_hec import splunk_hec_spans

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    t = F.lit(True)
    start = F.lit(1700000000000000000) + e * 1000000

    fx = ev.select(
        e.alias("i"),
        F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0")
        .alias("trace_id"),
        F.lpad(F.lower(F.hex(e + 1)), 16, "0").alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.floor(e / 2) + 1)), 16, "0"))
        .alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (e % 7).cast("int").alias("kind"),
        start.cast("bigint").alias("start_ns"),
        (start + 5000000).cast("bigint").alias("end_ns"),
        F.when(e % 11 == 0, F.lit(2)).when(e % 11 == 1, F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("status_code"),
        F.when(e % 11 == 0, F.lit("boom")).otherwise(F.lit(""))
        .alias("status_message"),
        omap(
            (e % 3 != 0, "a", F.concat(F.lit("x"), s(e % 3))),
            (e % 3 != 0, "b", F.concat(F.lit("y"), s(u % 2))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
            (u % 4 == 0, "com.splunk.source",
             F.concat(F.lit("s"), s(u % 2))),
            (t, "env", F.concat(F.lit("prod"), s(u % 3))),
        ).alias("res_attrs"),
        F.when(e % 5 == 0, F.array(
            F.struct((start + 1).cast("bigint").alias("ts_ns"),
                     F.lit("ev").alias("name"),
                     F.create_map(F.lit("m"), F.lit("1"))
                     .alias("attrs")),
            F.struct((start + 2).cast("bigint").alias("ts_ns"),
                     F.lit("wake").alias("name"),
                     F.map_from_arrays(
                         F.array().cast("array<string>"),
                         F.array().cast("array<string>"))
                     .alias("attrs")),
        )).alias("events"),
        F.when(e % 10 == 0, F.array(F.struct(
            F.lit("lt").alias("trace_id"),
            F.lit("ls").alias("span_id"),
            (F.when(u % 2 == 0, F.lit("a=b")).otherwise(F.lit("")))
            .alias("trace_state"),
            F.map_from_arrays(F.array().cast("array<string>"),
                              F.array().cast("array<string>"))
            .alias("attrs")))).alias("links"),
    )

    return splunk_hec_spans(fx, id_cols=["i"], source="defsrc",
                            sourcetype="defst", index="defidx")


O_SPLUNK_HEC_SPANS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1000000 AS start_ns
  FROM events
)
SELECT i,
  (1700000000000 + e) / 1000.0 AS time,
  CASE WHEN u % 3 <> 0 THEN 'h' || CAST(u % 5 AS VARCHAR)
       ELSE 'unknown' END AS host,
  CASE WHEN u % 4 = 0 THEN 's' || CAST(u % 2 AS VARCHAR)
       ELSE 'defsrc' END AS source,
  'defst' AS sourcetype,
  'defidx' AS index,
  '{"trace_id":"' || lpad(lower(to_hex(1000 + u)), 32, '0') ||
  '","span_id":"' || lpad(lower(to_hex(e + 1)), 16, '0') ||
  '","parent_span_id":"' ||
  CASE WHEN e % 3 = 0 THEN ''
       ELSE lpad(lower(to_hex(e // 2 + 1)), 16, '0') END ||
  '","name":"op-' || event_type || '",' ||
  CASE WHEN e % 3 <> 0 THEN
    '"attributes":{"a":"x' || CAST(e % 3 AS VARCHAR) ||
    '","b":"y' || CAST(u % 2 AS VARCHAR) || '"},'
  ELSE '' END ||
  '"end_time":' || CAST(start_ns + 5000000 AS VARCHAR) ||
  ',"kind":"' ||
  CASE e % 7 WHEN 0 THEN 'SPAN_KIND_UNSPECIFIED'
       WHEN 1 THEN 'SPAN_KIND_INTERNAL' WHEN 2 THEN 'SPAN_KIND_SERVER'
       WHEN 3 THEN 'SPAN_KIND_CLIENT' WHEN 4 THEN 'SPAN_KIND_PRODUCER'
       WHEN 5 THEN 'SPAN_KIND_CONSUMER' ELSE '' END ||
  '","status":{"message":"' ||
  CASE WHEN e % 11 = 0 THEN 'boom' ELSE '' END ||
  '","code":"' ||
  CASE WHEN e % 11 = 0 THEN 'STATUS_CODE_ERROR'
       WHEN e % 11 = 1 THEN 'STATUS_CODE_OK'
       ELSE 'STATUS_CODE_UNSET' END ||
  '"},"start_time":' || CAST(start_ns AS VARCHAR) ||
  CASE WHEN e % 5 = 0 THEN
    ',"events":[{"attributes":{"m":"1"},"name":"ev","timestamp":' ||
    CAST(start_ns + 1 AS VARCHAR) ||
    '},{"name":"wake","timestamp":' ||
    CAST(start_ns + 2 AS VARCHAR) || '}]'
  ELSE '' END ||
  CASE WHEN e % 10 = 0 THEN
    ',"links":[{"trace_id":"lt","span_id":"ls","trace_state":"' ||
    CASE WHEN u % 2 = 0 THEN 'a=b' ELSE '' END || '"}]'
  ELSE '' END ||
  '}' AS event,
  'env=prod' || CAST(u % 3 AS VARCHAR) AS fields
FROM a
"""


def _syslog_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    return ev.select(
        e.alias("i"),
        (F.lit(1700000000000000000) + e * 1357911).cast("bigint")
        .alias("ts_ns"),
        omap(
            (e % 3 == 0, "priority", F.lit("34")),
            (e % 9 == 0, "version", F.lit("2")),
            (u % 3 != 0, "hostname", F.concat(F.lit("h"), s(u % 5))),
            (e % 2 == 0, "appname", F.concat(F.lit("app"), s(e % 4))),
            (e % 5 == 0, "proc_id", s(e % 1000)),
            (e % 7 == 0, "msg_id", F.concat(F.lit("mid"), s(e % 3))),
            (e % 11 != 0, "message",
             F.concat(F.lit("m "), F.col("event_type"), F.lit(" "),
                      s(e % 13))),
        ).alias("attrs"),
        F.when(e % 18 == 0, F.map_from_arrays(
            F.array().cast("array<string>"),
            F.array().cast("array<map<string,string>>")))
        .when(e % 12 == 0, F.create_map(
            F.lit("aa"), F.create_map(F.lit("k1"),
                                      F.concat(F.lit("v"), s(e % 3))),
            F.lit("bb"), F.create_map(F.lit("k2"),
                                      F.concat(F.lit("w"), s(u % 2)))))
        .when(e % 6 == 0, F.create_map(
            F.lit("aa"), F.create_map(
                F.lit("k1"), F.concat(F.lit("v"), s(e % 3)),
                F.lit("k2"), F.concat(F.lit("w"), s(u % 2)))))
        .alias("structured_data"),
    )


def q_syslog_export_5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.syslog_export import syslog_export_lines

    return syslog_export_lines(_syslog_fixture(spark, sf_dir),
                               id_cols=["i"], protocol="rfc5424",
                               octet_counting=True)


def q_syslog_export_3164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.syslog_export import syslog_export_lines

    return syslog_export_lines(_syslog_fixture(spark, sf_dir),
                               id_cols=["i"], protocol="rfc3164")


_SYSLOG_PARTS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1357911 AS ts_ns
  FROM events
), b AS (
  SELECT *,
    CASE WHEN e % 3 = 0 THEN '34' ELSE '165' END AS pri,
    CASE WHEN u % 3 <> 0 THEN 'h' || CAST(u % 5 AS VARCHAR)
         ELSE '-' END AS host,
    CASE WHEN e % 2 = 0 THEN 'app' || CAST(e % 4 AS VARCHAR) END
      AS app,
    CASE WHEN e % 11 <> 0
         THEN 'm ' || event_type || ' ' || CAST(e % 13 AS VARCHAR)
         ELSE '' END AS msg,
    ts_ns // 1000000000 AS secs,
    ts_ns % 1000000000 AS ns
  FROM a
)
"""


O_SYSLOG_EXPORT_5424 = _SYSLOG_PARTS + """
, c AS (
  SELECT i,
    '<' || pri || '>' ||
    CASE WHEN e % 9 = 0 THEN '2' ELSE '1' END || ' ' ||
    strftime(make_timestamp(secs * 1000000), '%Y-%m-%dT%H:%M:%S') ||
    CASE WHEN ns > 0
         THEN '.' || rtrim(lpad(CAST(ns AS VARCHAR), 9, '0'), '0')
         ELSE '' END || 'Z ' ||
    host || ' ' ||
    COALESCE(app, '-') || ' ' ||
    CASE WHEN e % 5 = 0 THEN CAST(e % 1000 AS VARCHAR)
         ELSE '-' END || ' ' ||
    CASE WHEN e % 7 = 0 THEN 'mid' || CAST(e % 3 AS VARCHAR)
         ELSE '-' END || ' ' ||
    CASE WHEN e % 18 = 0 THEN ''
         WHEN e % 12 = 0 THEN
           '[aa k1="v' || CAST(e % 3 AS VARCHAR) || '"]' ||
           '[bb k2="w' || CAST(u % 2 AS VARCHAR) || '"]'
         WHEN e % 6 = 0 THEN
           '[aa k1="v' || CAST(e % 3 AS VARCHAR) ||
           '" k2="w' || CAST(u % 2 AS VARCHAR) || '"]'
         ELSE '-' END ||
    CASE WHEN msg <> '' THEN ' ' || msg ELSE '' END ||
    chr(10) AS body
  FROM b
)
SELECT i, CAST(length(body) AS VARCHAR) || ' ' || body AS line FROM c
"""


O_SYSLOG_EXPORT_3164 = _SYSLOG_PARTS + """
SELECT i,
  '<' || pri || '>' ||
  strftime(make_timestamp(secs * 1000000), '%b %d %H:%M:%S') || ' ' ||
  host || ' ' ||
  CASE WHEN app IS NOT NULL THEN app || ':' ELSE '' END ||
  CASE WHEN app IS NOT NULL AND msg <> '' THEN ' ' ELSE '' END ||
  msg || chr(10) AS line
FROM b
"""


def q_carbon_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.carbon_export import carbon_export_lines

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.when(e % 21 == 0, F.lit("")).otherwise(
            F.concat(F.lit("met"), s(e % 6))).alias("name"),
        F.when(e % 5 == 0, F.lit("gauge"))
        .when(e % 5 == 1, F.lit("sum"))
        .when(e % 5 == 2, F.lit("histogram"))
        .when(e % 5 == 3, F.lit("summary"))
        .otherwise(F.lit("empty")).alias("mtype"),
        (F.lit(1700000000000000000) + e * 1000000000).cast("bigint")
        .alias("ts_ns"),
        F.map_from_entries(F.filter(F.array(
            F.when(e % 7 != 0, F.struct(
                F.lit("k").alias("key"),
                F.concat(F.lit("v"), s(e % 3)).alias("value"))),
            F.when(e % 8 == 0, F.struct(
                F.lit("bad;key!").alias("key"),
                F.lit("").alias("value"))),
        ), lambda x: x.isNotNull())).alias("attrs"),
        F.when(e % 35 == 0, F.lit(None).cast("boolean"))
        .otherwise(e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        d((u % 4) * 0.25).alias("vdouble"),
        F.when(e % 5 == 2, e % 50 + 2).otherwise(e % 30 + 1)
        .cast("bigint").alias("count"),
        F.when(e % 5 == 2,
               F.when(u % 4 != 0, d((u % 10) * 1.5)))
        .otherwise(d((u % 9) * 1.25)).alias("sum"),
        F.when(e % 15 == 2, F.array().cast("array<double>"))
        .otherwise(F.array(F.lit(0.0), F.lit(1.0), F.lit(2.5)))
        .alias("bounds"),
        F.when(e % 20 == 2,
               F.array(F.lit(1), F.lit(2)).cast("array<bigint>"))
        .otherwise(F.array(e % 3, e % 4, e % 5 + 1, F.lit(7))
                   .cast("array<bigint>")).alias("bucket_counts"),
        F.when(u % 2 == 0, F.array(
            F.struct(F.lit(0.5).alias("q"),
                     d((u % 5) * 0.25).alias("v")),
            F.struct(F.lit(0.25).alias("q"),
                     d((u % 9) * 0.5).alias("v"))))
        .otherwise(F.array().cast(
            "array<struct<q:double,v:double>>")).alias("quantiles"),
    )

    return carbon_export_lines(fx, id_cols=["i"])


O_CARBON_EXPORT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e,
         'met' || CAST(event_id % 6 AS VARCHAR) AS name,
         CAST(1700000000 + event_id AS VARCHAR) AS ts
  FROM events WHERE event_id % 21 <> 0
), b AS (
  SELECT *,
    COALESCE(CASE WHEN e % 7 <> 0
                  THEN ';k=v' || CAST(e % 3 AS VARCHAR) END, '') ||
    CASE WHEN e % 8 = 0 THEN ';bad_key_=<empty>' ELSE '' END AS tags,
    CASE WHEN e % 5 = 2 THEN
      CASE WHEN u % 4 <> 0 THEN regexp_replace(
        CAST(CAST((u % 10) * 1.5 AS DOUBLE) AS VARCHAR), '\\.0$', '')
      ELSE '0' END
    ELSE regexp_replace(
      CAST(CAST((u % 9) * 1.25 AS DOUBLE) AS VARCHAR), '\\.0$', '')
    END AS sum_v,
    CASE WHEN e % 5 = 2 THEN CAST(e % 50 + 2 AS VARCHAR)
         ELSE CAST(e % 30 + 1 AS VARCHAR) END AS count_v
  FROM a
), lns AS (
  SELECT i, name || tags || ' ' ||
    CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
         ELSE regexp_replace(
           CAST(CAST((u % 4) * 0.25 AS DOUBLE) AS VARCHAR),
           '\\.0$', '') END || ' ' || ts AS body
  FROM b WHERE e % 5 IN (0, 1) AND e % 35 <> 0
  UNION ALL
  SELECT i, name || '.count' || tags || ' ' || count_v || ' ' || ts
  FROM b WHERE e % 5 IN (2, 3)
  UNION ALL
  SELECT i, name || tags || ' ' || sum_v || ' ' || ts
  FROM b WHERE e % 5 IN (2, 3)
  UNION ALL
  SELECT i, name || '.bucket' || tags || ';upper_bound=' || ub ||
         ' ' || cnt || ' ' || ts
  FROM (
    SELECT i, name, tags, ts, j,
      CASE j WHEN 1 THEN '0' WHEN 2 THEN '1' WHEN 3 THEN '2.5'
           ELSE 'inf' END AS ub,
      CASE WHEN e % 20 = 2 THEN
        CASE j WHEN 1 THEN '1' WHEN 2 THEN '2' END
      ELSE
        CASE j WHEN 1 THEN CAST(e % 3 AS VARCHAR)
             WHEN 2 THEN CAST(e % 4 AS VARCHAR)
             WHEN 3 THEN CAST(e % 5 + 1 AS VARCHAR)
             ELSE '7' END
      END AS cnt
    FROM b, (SELECT unnest(generate_series(1, 4)) AS j)
    WHERE e % 5 = 2 AND e % 15 <> 2
  ) WHERE cnt IS NOT NULL
  UNION ALL
  SELECT i, name || '.quantile' || tags || ';quantile=' ||
    CASE j WHEN 1 THEN '50' ELSE '25' END || ' ' ||
    CASE j WHEN 1 THEN regexp_replace(
      CAST(CAST((u % 5) * 0.25 AS DOUBLE) AS VARCHAR), '\\.0$', '')
    ELSE regexp_replace(
      CAST(CAST((u % 9) * 0.5 AS DOUBLE) AS VARCHAR), '\\.0$', '')
    END || ' ' || ts
  FROM b, (SELECT unnest(generate_series(1, 2)) AS j)
  WHERE e % 5 = 3 AND u % 2 = 0
)
SELECT i, body || chr(10) AS line FROM lns
"""


EXT25_QUERIES["carbon_export"] = q_carbon_export
EXT25_ORACLES["carbon_export"] = O_CARBON_EXPORT


def q_sumologic_prom_export(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ..operators.sumologic_export import sumologic_prom_lines

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    d = lambda c: c.cast("double")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("met;"), s(e % 6)).alias("name"),  # sanitized
        F.when(e % 5 == 0, F.lit("gauge"))
        .when(e % 5 == 1, F.lit("sum"))
        .when(e % 5 == 2, F.lit("histogram"))
        .when(e % 5 == 3, F.lit("summary"))
        .otherwise(F.lit("empty")).alias("mtype"),
        (F.lit(1700000000000000000) + e * 1000000).cast("bigint")
        .alias("ts_ns"),
        omap(
            (e % 7 != 0, "k", F.concat(F.lit("v"), s(e % 3))),
            # same key as a resource attr: PutStr keeps the resource
            # POSITION but takes this value
            (e % 4 == 0, "env", F.concat(F.lit("dp"), s(u % 2))),
        ).alias("attrs"),
        omap(
            (F.lit(True), "env", F.concat(F.lit("prod"), s(u % 3))),
            (u % 3 != 0, "host name", F.concat(F.lit("h"), s(u % 5))),
        ).alias("res_attrs"),
        F.when(e % 35 == 0, F.lit(None).cast("boolean"))
        .otherwise(e % 2 == 0).alias("is_int"),
        (e % 100).cast("bigint").alias("vint"),
        d((u % 4) * 0.25).alias("vdouble"),
        F.when(e % 5 == 2, e % 50 + 2).otherwise(e % 30 + 1)
        .cast("bigint").alias("count"),
        F.when(e % 5 == 2,
               F.when(u % 4 != 0, d((u % 10) * 1.5)))
        .otherwise(d((u % 9) * 1.25)).alias("sum"),
        F.array(F.lit(0.0), F.lit(1.0), F.lit(2.5)).alias("bounds"),
        F.when(e % 15 == 2, F.array().cast("array<bigint>"))
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

    return sumologic_prom_lines(fx, id_cols=["i"])


O_SUMOLOGIC_PROM_EXPORT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e,
         'met_' || CAST(event_id % 6 AS VARCHAR) AS name,
         CAST(1700000000000 + event_id AS VARCHAR) AS ts
  FROM events
), b AS (
  SELECT *,
    -- merged tag body WITHOUT the per-line extra: env (dp value wins
    -- in the resource position), host_name, k
    'env="' || CASE WHEN e % 4 = 0 THEN 'dp' || CAST(u % 2 AS VARCHAR)
                    ELSE 'prod' || CAST(u % 3 AS VARCHAR) END || '"' ||
    COALESCE(CASE WHEN u % 3 <> 0
      THEN ',host_name="h' || CAST(u % 5 AS VARCHAR) || '"' END, '')
      AS pre,
    COALESCE(CASE WHEN e % 7 <> 0
      THEN ',k="v' || CAST(e % 3 AS VARCHAR) || '"' END, '') AS post
  FROM a
), lns AS (
  SELECT i,
    CASE WHEN e % 35 = 0 THEN ''
    ELSE name || '{' || pre || post || '} ' ||
      CASE WHEN e % 2 = 0 THEN CAST(e % 100 AS VARCHAR)
           ELSE regexp_replace(
             CAST(CAST((u % 4) * 0.25 AS DOUBLE) AS VARCHAR),
             '\\.0$', '') END || ' ' || ts END AS line
  FROM b WHERE e % 5 IN (0, 1)
  UNION ALL
  SELECT i, name || '_bucket{' || pre || ',le="' || ub || '"' ||
         post || '} ' || cum || ' ' || ts
  FROM (
    SELECT i, name, pre, post, ts, j,
      CASE j WHEN 1 THEN '0' WHEN 2 THEN '1' WHEN 3 THEN '2.5'
           ELSE '+Inf' END AS ub,
      CAST(CASE j WHEN 1 THEN e % 3
           WHEN 2 THEN e % 3 + e % 4
           WHEN 3 THEN e % 3 + e % 4 + e % 5 + 1
           ELSE e % 3 + e % 4 + e % 5 + 8 END AS VARCHAR) AS cum
    FROM b, (SELECT unnest(generate_series(1, 4)) AS j)
    WHERE e % 5 = 2 AND e % 15 <> 2
  )
  UNION ALL
  SELECT i, name || '_sum{' || pre || post || '} ' ||
    regexp_replace(CAST(CAST((u % 10) * 1.5 AS DOUBLE) AS VARCHAR),
                   '\\.0$', '') || ' ' || ts
  FROM b WHERE e % 5 = 2 AND u % 4 <> 0
  UNION ALL
  SELECT i, name || '_count{' || pre || post || '} ' ||
    CAST(e % 50 + 2 AS VARCHAR) || ' ' || ts
  FROM b WHERE e % 5 = 2
  UNION ALL
  SELECT i, name || '{' || pre || ',quantile="' ||
    CASE j WHEN 1 THEN '0.5' ELSE '0.99' END || '"' || post || '} ' ||
    CASE j WHEN 1 THEN regexp_replace(
      CAST(CAST((u % 5) * 0.25 AS DOUBLE) AS VARCHAR), '\\.0$', '')
    ELSE regexp_replace(
      CAST(CAST((u % 9) * 0.5 AS DOUBLE) AS VARCHAR), '\\.0$', '')
    END || ' ' || ts
  FROM b, (SELECT unnest(generate_series(1, 2)) AS j)
  WHERE e % 5 = 3 AND u % 2 = 0
  UNION ALL
  SELECT i, name || '_sum{' || pre || post || '} ' ||
    regexp_replace(CAST(CAST((u % 9) * 1.25 AS DOUBLE) AS VARCHAR),
                   '\\.0$', '') || ' ' || ts
  FROM b WHERE e % 5 = 3
  UNION ALL
  SELECT i, name || '_count{' || pre || post || '} ' ||
    CAST(e % 30 + 1 AS VARCHAR) || ' ' || ts
  FROM b WHERE e % 5 = 3
)
SELECT i, line FROM lns
"""


def q_sumologic_log_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sumologic_export import sumologic_log_lines

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.when(e % 9 == 0, F.lit("")).otherwise(
            F.concat(F.lit("msg "), F.col("event_type"))).alias("body"),
        omap(
            (e % 3 != 0, "zk", F.concat(F.lit("v"), s(e % 4))),
            (F.lit(True), "app", F.concat(F.lit("a"), s(u % 3))),
        ).alias("attrs"),
    )

    return sumologic_log_lines(fx, id_cols=["i"], log_format="json")


O_SUMOLOGIC_LOG_JSON = """
SELECT event_id AS i,
  '{"app":"a' || CAST(user_id % 3 AS VARCHAR) || '"' ||
  CASE WHEN event_id % 9 <> 0
       THEN ',"log":"msg ' || event_type || '"' ELSE '' END ||
  CASE WHEN event_id % 3 <> 0
       THEN ',"zk":"v' || CAST(event_id % 4 AS VARCHAR) || '"'
       ELSE '' END ||
  '}' AS line
FROM events
"""


def q_alertmanager_export(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ..operators.alertmanager_export import alertmanager_alerts

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    start = F.lit(1700000000000000000) + e * 1000000

    fx = ev.select(
        e.alias("i"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.lpad(F.lower(F.hex(e + 1)), 16, "0").alias("span_id"),
        F.when(e % 4 != 0, F.array(
            F.struct((start + 1).cast("bigint").alias("ts_ns"),
                     F.concat(F.lit("exc-"), F.col("event_type"))
                     .alias("name"),
                     omap(
                         (e % 2 == 0, "severity",
                          F.when(u % 2 == 0, F.lit("critical"))
                          .otherwise(F.lit("warning"))),
                         (F.lit(True), "attr1",
                          F.concat(F.lit("a"), s(u % 3))),
                         (e % 3 == 0, "other",
                          F.concat(F.lit("o"), s(e % 5))),
                     ).alias("attrs")),
            F.struct((start + 2).cast("bigint").alias("ts_ns"),
                     F.lit("retry").alias("name"),
                     F.expr("map()").cast("map<string,string>")
                     .alias("attrs")),
        )).alias("events"),
    )

    return alertmanager_alerts(fx, id_cols=["i"],
                               event_labels=["attr1", "attr2"])


O_ALERTMANAGER_EXPORT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000000 + event_id * 1000000 AS start_ns,
         CASE WHEN event_id % 13 = 0 THEN ''
              ELSE lpad(lower(to_hex(1000 + user_id)), 32, '0') END
           AS tid,
         lpad(lower(to_hex(event_id + 1)), 16, '0') AS sid
  FROM events WHERE event_id % 4 <> 0
)
SELECT i, start_ns + 1 AS starts_at_ns,
  'attr1=a' || CAST(u % 3 AS VARCHAR) || ',event_name=exc-' ||
  event_type || ',severity=' ||
  CASE WHEN e % 2 = 0 THEN
    CASE WHEN u % 2 = 0 THEN 'critical' ELSE 'warning' END
  ELSE 'info' END AS labels,
  'SpanID=' || sid || ',TraceID=' || tid ||
  ',attr1=a' || CAST(u % 3 AS VARCHAR) ||
  CASE WHEN e % 3 = 0 THEN ',other=o' || CAST(e % 5 AS VARCHAR)
       ELSE '' END ||
  CASE WHEN e % 2 = 0 THEN ',severity=' ||
    CASE WHEN u % 2 = 0 THEN 'critical' ELSE 'warning' END
  ELSE '' END AS annotations,
  'opentelemetry-collector' AS generator_url
FROM a
UNION ALL
SELECT i, start_ns + 2, 'event_name=retry,severity=info',
  'SpanID=' || sid || ',TraceID=' || tid, 'opentelemetry-collector'
FROM a
"""


EXT25_QUERIES["alertmanager_export"] = q_alertmanager_export
EXT25_ORACLES["alertmanager_export"] = O_ALERTMANAGER_EXPORT


def q_mezmo_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mezmo_honeycomb_export import mezmo_log_lines

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("msg-"), F.col("event_type")).alias("body"),
        F.when(e % 6 == 0, F.lit(0)).otherwise(
            F.lit(1700000000000000000) + e * 1234567).cast("bigint")
        .alias("ts_ns"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(F.lit(1000) + u)), 32, "0"))
        .alias("trace_id"),
        F.when(e % 11 == 0, F.lit("")).otherwise(
            F.lpad(F.lower(F.hex(e + 1)), 16, "0")).alias("span_id"),
        F.when(e % 5 == 0, F.lit("")).otherwise(
            F.when(u % 2 == 0, F.lit("INFO")).otherwise(F.lit("WARN")))
        .alias("severity_text"),
        omap(
            (e % 2 == 0, "appname", F.concat(F.lit("app"), s(u % 3))),
            (F.lit(True), "k", F.concat(F.lit("v"), s(e % 4))),
            (e % 9 == 0, "hostname", F.concat(F.lit("ha"), s(e % 2))),
        ).alias("attrs"),
        omap(
            (u % 3 != 0, "host.name", F.concat(F.lit("h"), s(u % 5))),
        ).alias("res_attrs"),
    )

    return mezmo_log_lines(fx, id_cols=["i"])


O_MEZMO_EXPORT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type
  FROM events
)
SELECT i,
  CASE WHEN e % 6 <> 0
       THEN (1700000000000000000 + e * 1234567) // 1000000 END
    AS ts_ms,
  'msg-' || event_type AS line,
  CASE WHEN e % 2 = 0 THEN 'app' || CAST(u % 3 AS VARCHAR)
       ELSE '' END AS app,
  CASE WHEN e % 5 = 0 THEN 'info'
       WHEN u % 2 = 0 THEN 'INFO' ELSE 'WARN' END AS level,
  COALESCE(array_to_string(list_sort(list_filter([
    CASE WHEN e % 2 = 0
         THEN 'appname=app' || CAST(u % 3 AS VARCHAR) END,
    CASE WHEN e % 9 = 0 THEN 'hostname=ha' || CAST(e % 2 AS VARCHAR)
         WHEN u % 3 <> 0 THEN 'hostname=h' || CAST(u % 5 AS VARCHAR)
         END,
    'k=v' || CAST(e % 4 AS VARCHAR),
    CASE WHEN e % 11 <> 0
         THEN 'span.id=' || lpad(lower(to_hex(e + 1)), 16, '0') END,
    CASE WHEN e % 13 <> 0
         THEN 'trace.id=' || lpad(lower(to_hex(1000 + u)), 32, '0')
         END
  ], x -> x IS NOT NULL)), ','), '') AS meta
FROM a
"""


def q_honeycomb_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mezmo_honeycomb_export import (
        Marker,
        honeycomb_markers,
    )

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731

    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("b-"), F.col("event_type")).alias("body"),
        (e % 25).cast("bigint").alias("severity_number"),
        omap(
            (e % 3 == 0, "kind", F.lit("deploy")),
            (e % 2 == 0, "msg", F.concat(F.lit("m"), s(e % 5))),
            (e % 7 == 0, "link", F.concat(F.lit("http://x/"), s(u))),
        ).alias("attributes"),
    )

    return honeycomb_markers(fx, id_cols=["i"], markers=[
        Marker(type="deploy-marker",
               log_conditions=['attributes["kind"] == "deploy"'],
               dataset_slug="ds1"),
        Marker(type="error-marker",
               log_conditions=[
                   "severity_number >= SEVERITY_NUMBER_WARN"],
               message_key="msg", url_key="link"),
    ])


O_HONEYCOMB_MARKERS = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e FROM events
)
SELECT i, 'deploy-marker' AS marker_type,
  '{"type":"deploy-marker"}' AS payload, 'ds1' AS dataset_slug
FROM a WHERE e % 3 = 0
UNION ALL
SELECT i, 'error-marker',
  '{' ||
  CASE WHEN e % 2 = 0
       THEN '"message":"m' || CAST(e % 5 AS VARCHAR) || '",'
       ELSE '' END ||
  '"type":"error-marker"' ||
  CASE WHEN e % 7 = 0
       THEN ',"url":"http://x/' || CAST(u AS VARCHAR) || '"'
       ELSE '' END ||
  '}', '__all__'
FROM a WHERE e % 25 >= 13
"""


EXT25_QUERIES["mezmo_export"] = q_mezmo_export
EXT25_ORACLES["mezmo_export"] = O_MEZMO_EXPORT
EXT25_QUERIES["honeycomb_markers"] = q_honeycomb_markers
EXT25_ORACLES["honeycomb_markers"] = O_HONEYCOMB_MARKERS

EXT25_QUERIES["sumologic_prom_export"] = q_sumologic_prom_export
EXT25_ORACLES["sumologic_prom_export"] = O_SUMOLOGIC_PROM_EXPORT
EXT25_QUERIES["sumologic_log_json"] = q_sumologic_log_json
EXT25_ORACLES["sumologic_log_json"] = O_SUMOLOGIC_LOG_JSON

EXT25_QUERIES["syslog_export_5424"] = q_syslog_export_5424
EXT25_ORACLES["syslog_export_5424"] = O_SYSLOG_EXPORT_5424
EXT25_QUERIES["syslog_export_3164"] = q_syslog_export_3164
EXT25_ORACLES["syslog_export_3164"] = O_SYSLOG_EXPORT_3164

EXT25_QUERIES["splunk_hec_logs"] = q_splunk_hec_logs
EXT25_ORACLES["splunk_hec_logs"] = O_SPLUNK_HEC_LOGS
EXT25_QUERIES["splunk_hec_metrics"] = q_splunk_hec_metrics
EXT25_ORACLES["splunk_hec_metrics"] = O_SPLUNK_HEC_METRICS
EXT25_QUERIES["splunk_hec_spans"] = q_splunk_hec_spans
EXT25_ORACLES["splunk_hec_spans"] = O_SPLUNK_HEC_SPANS
