"""Round-5 queries (cont. 12): OTLP spans -> Sentry transactions +
exception events (``exporter/sentryexporter/sentry_exporter.go``).

The fixture builds 10-span binary-ish trees per trace (roots by empty
parent, server and consumer kinds as interior transaction boundaries,
one dead-end parent per trace for the orphan path) and drives the
op/description ladder, resource-wins tag merge, the http/grpc status
tables, and the exception-event fan.  The oracle resolves the
nearest-root association with a recursive CTE — the same
transaction-tree shape the coralogix oracle uses — and rebuilds the
deterministic uuid4-shaped event ids byte for byte.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT28_QUERIES: dict[str, QueryFn] = {}
EXT28_ORACLES: dict[str, str] = {}

_FLAT = ("array_join(array_sort(transform(map_entries({m}), "
         "kv -> concat(kv.key, '=', kv.value))), ',')")


def q_sentry_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sentry_export import sentry_export_events

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    j = e % 10
    t = F.floor(e / 10)

    tr = F.lit(True)
    kind = (F.when(j == 5, 2).when(j == 7, 5).when(j == 0, 1)
            .when(e % 4 == 0, 3).otherwise(1)).cast("int")
    fx = ev.select(
        e.alias("i"),
        F.concat(F.lit("t"), s(t)).alias("trace_id"),
        F.concat(F.lit("s"), s(e)).alias("span_id"),
        F.when(j == 0, F.lit(""))
        .when(j == 9, F.concat(F.lit("sm"), s(e)))
        .otherwise(F.concat(F.lit("s"), s(t * 10 + F.floor((j - 1) / 2))))
        .alias("parent_span_id"),
        F.concat(F.lit("n "), F.col("event_type")).alias("name"),
        kind.alias("kind"),
        (F.lit(1700000000_000000000) + e * 1000).alias("start_ns"),
        (F.lit(1700000001_000000000) + e * 1000).alias("end_ns"),
        (F.when(e % 9 == 0, 3).when(e % 7 == 0, 2)
         .when(e % 5 == 0, 1).otherwise(0)).cast("int")
        .alias("status_code"),
        F.when(e % 6 == 0, F.concat(F.lit("m"), s(e % 3)))
        .otherwise(F.lit("")).alias("status_message"),
        omap(
            (tr, "k", F.lit("a")),
            (j % 3 == 0, "http.method", F.lit("GET")),
            ((j % 3 == 1), "db.system", F.lit("postgresql")),
            ((j % 3 == 1) & (e % 2 == 0), "db.statement",
             F.concat(F.lit("SELECT "), s(e % 4))),
            (j == 2, "faas.trigger", F.lit("pubsub")),
            (j == 5, "rpc.service", F.lit("RpcSvc")),
            (j == 8, "messaging.system", F.lit("kafka")),
            (e % 11 == 0, "http.status_code", F.lit("404")),
            (e % 11 == 1, "http.status_code", F.lit("429")),
            (e % 13 == 0, "rpc.grpc.status_code", F.lit("8")),
        ).alias("attrs"),
        omap(
            (tr, "k", F.concat(F.lit("r"), s(u % 2))),
            (tr, "service.name", F.concat(F.lit("svc"), s(u % 3))),
        ).alias("res_attrs"),
        F.concat(F.lit("lib"), s(u % 2)).alias("scope_name"),
        F.when(u % 4 == 0, F.lit("")).otherwise(F.lit("v1"))
        .alias("scope_version"),
        F.when(j == 6, F.array(F.struct(
            F.lit(7).cast("bigint").alias("ts_ns"),
            F.lit("exception").alias("name"),
            omap(
                (e % 4 == 2, "exception.type", F.lit("TypeA")),
                (e % 3 != 1, "exception.message",
                 F.concat(F.lit("msg"), s(e % 2))),
            ).alias("attrs")))).alias("events"),
    )
    out = sentry_export_events(fx, id_cols=["i"], environment="prod")
    return out.select(
        "i", "event_kind", "event_id", "trace_id", "span_id",
        "parent_span_id", "op", "description", "status", "transaction",
        "start_ns", "end_ns", "environment",
        F.expr(_FLAT.format(m="tags")).alias("tags_csv"),
        F.coalesce(F.array_join(F.col("child_span_ids"), ","),
                   F.lit("")).alias("child_csv"),
        "exc_type", "exc_message",
    )


O_SENTRY_EXPORT = """
WITH RECURSIVE base AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         event_id % 10 AS j, event_id // 10 AS t
  FROM events
), sp AS (
  SELECT *,
    't' || CAST(t AS VARCHAR) AS tid,
    's' || CAST(e AS VARCHAR) AS sid,
    CASE WHEN j = 0 THEN ''
         WHEN j = 9 THEN 'sm' || CAST(e AS VARCHAR)
         ELSE 's' || CAST(t * 10 + (j - 1) // 2 AS VARCHAR)
    END AS parent,
    CASE WHEN j = 5 THEN 2 WHEN j = 7 THEN 5 WHEN j = 0 THEN 1
         WHEN e % 4 = 0 THEN 3 ELSE 1 END AS kind,
    CASE WHEN e % 9 = 0 THEN 3 WHEN e % 7 = 0 THEN 2
         WHEN e % 5 = 0 THEN 1 ELSE 0 END AS code,
    'n ' || event_type AS name
  FROM base
), conv AS (
  SELECT *,
    (parent = '' OR kind IN (2, 5)) AS is_root,
    CASE
      WHEN j % 3 = 0 THEN 'http' ||
        CASE kind WHEN 3 THEN '.client' WHEN 2 THEN '.server'
             WHEN 1 THEN '.internal' WHEN 5 THEN '.consumer'
             ELSE '' END
      WHEN j % 3 = 1 THEN 'db'
      WHEN j = 5 THEN 'rpc'
      WHEN j = 8 THEN 'message'
      WHEN j = 2 THEN 'pubsub'
      ELSE '' END AS op,
    CASE
      WHEN j % 3 = 0 THEN 'GET ' || name
      WHEN j % 3 = 1 AND e % 2 = 0 THEN 'SELECT '
        || CAST(e % 4 AS VARCHAR)
      ELSE name END AS description,
    CASE
      WHEN e % 9 = 0 THEN 'unknown'
      WHEN e % 7 <> 0 THEN 'ok'
      WHEN e % 11 = 0 THEN 'not_found'
      WHEN e % 11 = 1 THEN 'resource_exhausted'
      WHEN e % 13 = 0 THEN 'resource_exhausted'
      ELSE 'unknown' END AS status,
    CASE
      WHEN e % 9 = 0 THEN 'error code 3'
      WHEN e % 6 = 0 THEN 'm' || CAST(e % 3 AS VARCHAR)
      ELSE '' END AS msg,
    array_to_string(list_sort(list_filter([
      'k=r' || CAST(u % 2 AS VARCHAR),
      'service.name=svc' || CAST(u % 3 AS VARCHAR),
      CASE WHEN j % 3 = 0 THEN 'http.method=GET' END,
      CASE WHEN j % 3 = 1 THEN 'db.system=postgresql' END,
      CASE WHEN j % 3 = 1 AND e % 2 = 0
        THEN 'db.statement=SELECT ' || CAST(e % 4 AS VARCHAR) END,
      CASE WHEN j = 2 THEN 'faas.trigger=pubsub' END,
      CASE WHEN j = 5 THEN 'rpc.service=RpcSvc' END,
      CASE WHEN j = 8 THEN 'messaging.system=kafka' END,
      CASE WHEN e % 11 = 0 THEN 'http.status_code=404'
           WHEN e % 11 = 1 THEN 'http.status_code=429' END,
      CASE WHEN e % 13 = 0 THEN 'rpc.grpc.status_code=8' END,
      CASE WHEN e % 9 = 0 THEN 'status_message=error code 3'
           WHEN e % 6 = 0
             THEN 'status_message=m' || CAST(e % 3 AS VARCHAR) END,
      'span_kind=' || CASE kind WHEN 1 THEN 'SPAN_KIND_INTERNAL'
        WHEN 2 THEN 'SPAN_KIND_SERVER' WHEN 3 THEN 'SPAN_KIND_CLIENT'
        WHEN 5 THEN 'SPAN_KIND_CONSUMER' END,
      'library_name=lib' || CAST(u % 2 AS VARCHAR),
      'library_version=' || CASE WHEN u % 4 = 0 THEN '' ELSE 'v1' END
    ], x -> x IS NOT NULL)), ',') AS tags_csv
  FROM sp
), climb AS (
  SELECT i, tid, sid, parent AS cur,
         CASE WHEN is_root THEN sid END AS root
  FROM conv
  UNION ALL
  SELECT c.i, c.tid, c.sid, p.parent,
         CASE WHEN p.is_root THEN p.sid END
  FROM climb c JOIN conv p ON p.tid = c.tid AND p.sid = c.cur
  WHERE c.root IS NULL
), assoc AS (
  SELECT i, tid, sid, max(root) AS root
  FROM climb GROUP BY i, tid, sid
), kids AS (
  SELECT a.tid, a.root,
         array_to_string(list_sort(list(a.sid)), ',') AS child_csv
  FROM assoc a JOIN conv c ON c.tid = a.tid AND c.sid = a.sid
  WHERE NOT c.is_root AND a.root IS NOT NULL
  GROUP BY a.tid, a.root
), eid AS (
  SELECT *,
    md5(tid || sid || ':txn') AS h
  FROM conv
), tx AS (
  SELECT c.i, 'transaction' AS event_kind,
    substr(c.h, 1, 12) || '4' || substr(c.h, 14, 3) ||
      CASE WHEN substr(c.h, 17, 1) IN ('0','4','8','c') THEN '8'
           WHEN substr(c.h, 17, 1) IN ('1','5','9','d') THEN '9'
           WHEN substr(c.h, 17, 1) IN ('2','6','a','e') THEN 'a'
           ELSE 'b' END || substr(c.h, 18, 15) AS event_id,
    c.tid AS trace_id, c.sid AS span_id,
    nullif(c.parent, '') AS parent_span_id,
    c.op, c.description, c.status, c.description AS "transaction",
    1700000000000000000 + c.e * 1000 AS start_ns,
    1700000001000000000 + c.e * 1000 AS end_ns,
    'prod' AS environment, c.tags_csv,
    COALESCE(k.child_csv, '') AS child_csv,
    CAST(NULL AS VARCHAR) AS exc_type,
    CAST(NULL AS VARCHAR) AS exc_message
  FROM eid c
  LEFT JOIN assoc a ON a.tid = c.tid AND a.sid = c.sid
  LEFT JOIN kids k ON k.tid = c.tid AND k.root = c.sid
  WHERE c.is_root OR a.root IS NULL
), exc AS (
  SELECT c.i, 'error' AS event_kind,
    substr(h2, 1, 12) || '4' || substr(h2, 14, 3) ||
      CASE WHEN substr(h2, 17, 1) IN ('0','4','8','c') THEN '8'
           WHEN substr(h2, 17, 1) IN ('1','5','9','d') THEN '9'
           WHEN substr(h2, 17, 1) IN ('2','6','a','e') THEN 'a'
           ELSE 'b' END || substr(h2, 18, 15) AS event_id,
    c.tid AS trace_id, c.sid AS span_id,
    nullif(c.parent, '') AS parent_span_id,
    c.op, c.description, c.status, c.description AS "transaction",
    1700000000000000000 + c.e * 1000 AS start_ns,
    1700000001000000000 + c.e * 1000 AS end_ns,
    CAST(NULL AS VARCHAR) AS environment, c.tags_csv,
    '' AS child_csv,
    CASE WHEN c.e % 4 = 2 THEN 'TypeA' ELSE '' END AS exc_type,
    CASE WHEN c.e % 3 <> 1 THEN 'msg' || CAST(c.e % 2 AS VARCHAR)
         ELSE '' END AS exc_message
  FROM (SELECT *, md5(tid || sid || ':exc:0') AS h2 FROM conv) c
  WHERE c.j = 6 AND (c.e % 4 = 2 OR c.e % 3 <> 1)
)
SELECT * FROM tx UNION ALL SELECT * FROM exc
"""

EXT28_QUERIES["sentry_export"] = q_sentry_export
EXT28_ORACLES["sentry_export"] = O_SENTRY_EXPORT
