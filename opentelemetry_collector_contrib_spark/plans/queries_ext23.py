"""Round-5 queries (cont. 7): OTLP → Zipkin v2 span-model export
(``pkg/translator/zipkin/zipkinv2/from_translator.go``), the write
twin of ``zipkin_v2_spans``.

The fixture derives an OTLP-shaped span table from ``events``
(deterministic ids, kinds, endpoints, events/links) and runs the
vectorized ``zipkin_export_spans`` translator; the oracle rebuilds the
final tag map / endpoint / status columns directly in SQL. Tag maps
are compared as sorted ``k=v`` CSV strings and annotations as
``ts|value`` lists, the same flattening the zipkin receive query uses.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT23_QUERIES: dict[str, QueryFn] = {}
EXT23_ORACLES: dict[str, str] = {}


def q_zipkin_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zipkin_export import zipkin_export_spans

    ev = load(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    hx = lambda c, n: F.lpad(F.lower(F.hex(c)), n, "0")  # noqa: E731

    t = F.lit(True)
    start_us = F.lit(1700000000000000) + e
    dur_us = e % 997 + 1
    start_ns = F.when(e % 7 == 0, F.lit(0)).otherwise(start_us * 1000)
    end_ns = F.when(e % 5 == 0, F.lit(0)).otherwise(
        start_ns + dur_us * 1000)

    fx = ev.select(
        e.alias("i"),
        F.when(e % 13 == 0, F.lit("")).otherwise(
            hx(F.lit(1000000) + u, 32)).alias("trace_id"),
        hx(e + 1, 16).alias("span_id"),
        F.when(e % 3 == 0, F.lit("")).otherwise(
            hx(F.floor(e / 2) + 1, 16)).alias("parent_span_id"),
        F.concat(F.lit("op-"), F.col("event_type")).alias("name"),
        (e % 6).cast("int").alias("kind"),
        start_ns.cast("bigint").alias("start_ns"),
        end_ns.cast("bigint").alias("end_ns"),
        F.when(e % 11 == 0, F.lit(2)).when(e % 11 == 1, F.lit(1))
        .otherwise(F.lit(0)).cast("int").alias("status_code"),
        F.when(e % 11 == 0, F.lit("boom")).otherwise(F.lit(""))
        .alias("status_message"),
        F.when(e % 4 == 0, F.lit("a=b")).otherwise(F.lit(""))
        .alias("trace_state"),
        omap(
            (t, "http.method", F.lit("GET")),
            (t, "net.host.ip", F.concat(F.lit("10.0.0."), s(u % 7))),
            (t, "net.host.port",
             F.when(e % 17 == 0, F.lit("70000")).otherwise(s(u % 4))),
            (e % 2 == 0, "peer.service", F.concat(F.lit("peer"),
                                                  s(u % 2))),
            (e % 9 == 0, "net.peer.ip",
             F.concat(F.lit("2001:db8::"), s(u % 3))),
            (e % 8 == 0, "error", F.lit("false")),
        ).alias("attrs"),
        omap(
            (u % 5 != 0, "service.name", F.concat(F.lit("svc"), s(u % 3))),
            (u % 5 != 0, "host.name", F.concat(F.lit("h"), s(u % 4))),
            (u % 10 == 0, "faas.name", F.concat(F.lit("fn"), s(u % 2))),
        ).alias("res_attrs"),
        F.concat(F.lit("lib"), s(u % 2)).alias("scope_name"),
        F.when(u % 6 != 0, F.concat(F.lit("1."), s(u % 3)))
        .otherwise(F.lit("")).alias("scope_version"),
        F.when(e % 5 == 0, F.array(
            F.struct((start_us * 1000 + 1).alias("ts_ns"),
                     F.lit("wake").alias("name"),
                     F.map_from_arrays(
                         F.array().cast("array<string>"),
                         F.array().cast("array<string>")).alias("attrs"),
                     F.lit(0).alias("dropped")),
            F.struct((start_us * 1000 + 2).alias("ts_ns"),
                     F.lit("ev").alias("name"),
                     F.create_map(F.lit("a"), F.lit("1")).alias("attrs"),
                     (e % 3).cast("int").alias("dropped")),
        )).alias("events"),
        F.when(e % 10 == 0, F.array(
            F.struct(F.lit("lt").alias("trace_id"),
                     F.lit("ls").alias("span_id"),
                     F.lit("").alias("trace_state"),
                     F.map_from_arrays(
                         F.array().cast("array<string>"),
                         F.array().cast("array<string>")).alias("attrs"),
                     F.lit(2).alias("dropped")),
        )).alias("links"),
    )

    out = zipkin_export_spans(fx, id_cols=["i"])
    return out.select(
        "i", "trace_id", "span_id", "parent_span_id", "name", "err",
        "zkind", "ts_ns", "duration_ns", "local_service_name",
        "local_ipv4", "local_port", "remote_service_name", "remote_ipv6",
        "remote_port", "is_error_tagged", "zerr_message",
        F.array_join(F.array_sort(F.transform(
            F.map_entries(F.col("tags")),
            lambda kv: F.concat(kv["key"], F.lit("="), kv["value"]))), ",")
        .alias("tag_csv"),
        F.array_join(F.transform(
            F.col("annotations"),
            lambda a: F.concat(a["ts_ns"].cast("string"), F.lit("|"),
                               a["value"])), ";").alias("annos"),
    )


O_ZIPKIN_EXPORT = """
WITH a AS (
  SELECT event_id AS i, user_id AS u, event_id AS e, event_type,
         1700000000000000 + event_id AS start_us,
         event_id % 997 + 1 AS dur_us
  FROM events
), b AS (
  SELECT *,
         CASE WHEN e % 7 = 0 THEN 0 ELSE start_us * 1000 END AS start_ns,
         CAST(e % 6 AS INT) AS kind,
         CASE WHEN e % 11 = 0 THEN 2
              WHEN e % 11 = 1 THEN 1 ELSE 0 END AS code
  FROM a
)
SELECT i,
  CASE WHEN e % 13 = 0 THEN ''
       ELSE lpad(lower(to_hex(1000000 + u)), 32, '0') END AS trace_id,
  lpad(lower(to_hex(e + 1)), 16, '0') AS span_id,
  CASE WHEN e % 3 = 0 THEN ''
       ELSE lpad(lower(to_hex(e // 2 + 1)), 16, '0') END
    AS parent_span_id,
  'op-' || event_type AS name,
  e % 13 = 0 AS err,
  CASE kind WHEN 2 THEN 'SERVER' WHEN 3 THEN 'CLIENT'
       WHEN 4 THEN 'PRODUCER' WHEN 5 THEN 'CONSUMER' ELSE '' END AS zkind,
  CASE WHEN start_ns // 1000000000 <> 0 THEN start_ns END AS ts_ns,
  CASE WHEN e % 5 <> 0 THEN dur_us * 1000 END AS duration_ns,
  CASE WHEN u % 5 <> 0 THEN 'svc' || CAST(u % 3 AS VARCHAR)
       WHEN u % 10 = 0 THEN 'fn' || CAST(u % 2 AS VARCHAR)
       ELSE 'OTLPResourceNoServiceName' END AS local_service_name,
  '10.0.0.' || CAST(u % 7 AS VARCHAR) AS local_ipv4,
  CASE WHEN e % 17 = 0 THEN 0 ELSE u % 4 END AS local_port,
  CASE WHEN e % 2 = 0 THEN 'peer' || CAST(u % 2 AS VARCHAR)
       WHEN e % 9 = 0 THEN '' END AS remote_service_name,
  CASE WHEN e % 9 = 0 THEN '2001:db8::' || CAST(u % 3 AS VARCHAR) END
    AS remote_ipv6,
  CASE WHEN e % 2 = 0 OR e % 9 = 0 THEN 0 END AS remote_port,
  code = 2 AS is_error_tagged,
  CASE WHEN code = 2 THEN 'boom' END AS zerr_message,
  array_to_string(list_sort(list_filter([
    'http.method=GET',
    CASE WHEN u % 5 <> 0 THEN 'host.name=h' || CAST(u % 4 AS VARCHAR) END,
    CASE WHEN u % 10 = 0 THEN 'otlp.service.name.source=faas.name' END,
    'otel.library.name=lib' || CAST(u % 2 AS VARCHAR),
    CASE WHEN u % 6 <> 0
         THEN 'otel.library.version=1.' || CAST(u % 3 AS VARCHAR) END,
    CASE WHEN e % 4 = 0 THEN 'w3c.tracestate=a=b' END,
    CASE WHEN kind = 1 THEN 'span.kind=internal' END,
    CASE WHEN code = 2 THEN 'error=true' END,
    CASE WHEN code = 2 THEN 'otel.status_code=STATUS_CODE_ERROR'
         WHEN code = 1 THEN 'otel.status_code=STATUS_CODE_OK' END,
    CASE WHEN code = 2 THEN 'otel.status_description=boom' END,
    CASE WHEN e % 10 = 0 THEN 'otlp.link.0=lt|ls||{}|2' END
  ], x -> x IS NOT NULL)), ',') AS tag_csv,
  CASE WHEN e % 5 = 0 THEN
    CAST(start_us * 1000 + 1 AS VARCHAR) || '|wake;' ||
    CAST(start_us * 1000 + 2 AS VARCHAR) || '|ev|{"a":"1"}|' ||
    CAST(e % 3 AS VARCHAR)
  ELSE '' END AS annos
FROM b
"""


EXT23_QUERIES["zipkin_export"] = q_zipkin_export
EXT23_ORACLES["zipkin_export"] = O_ZIPKIN_EXPORT
