"""Round-5 queries (cont. 17): OTLP gauge/sum datapoints -> BMC Helix
Operations Management payloads (``exporter/bmchelixexporter``).

The fixture groups 5 datapoints per metric; groups cycle through
monotonic sums / gauges, ratio units, an identifying ``cpu``
attribute (two distinct values per group -> metricName suffix +
label delete), missing-hostname dead letters with the dp-attr
fallback, and colon-infested entityNames.  The oracle rebuilds the
enrich/percent/rate cascade with SQL windows (rate = lag per
(entityId, final metricName)), plus the distinct parent container
entities.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import QueryFn, load, omap

EXT33_QUERIES: dict[str, QueryFn] = {}
EXT33_ORACLES: dict[str, str] = {}

_FLAT = ("array_join(array_sort(transform(map_entries({m}), "
         "kv -> concat(kv.key, '=', kv.value))), ',')")


def q_helix_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.helix_export import helix_metrics

    ev = load(spark, sf_dir, "events")
    e = F.col("event_id")
    s = lambda c: c.cast("string")  # noqa: E731
    t = F.floor(e / 5)
    j = e % 5

    tr = F.lit(True)
    fx = ev.select(
        e.alias("i"), t.alias("metric_group"),
        F.when(t % 3 == 0, F.lit("hx.mratio")).otherwise(
            F.concat(F.lit("hx.m"), s(t % 3))).alias("metric_name"),
        F.when(t % 3 == 0, F.lit("1")).otherwise(F.lit("ms"))
        .alias("unit"),
        F.when(t % 2 == 0, F.lit("sum")).otherwise(F.lit("gauge"))
        .alias("metric_type"),
        (t % 4 == 0).alias("is_monotonic"),
        (F.lit(1700000000_000000000) + e * 1_000_000_000)
        .cast("bigint").alias("ts_ns"),
        (e % 3).cast("int").alias("value_type"),
        (e % 10).cast("bigint").alias("value_int"),
        ((e % 9) * 0.5).alias("value_double"),
        omap(
            (tr, "entityTypeId", F.concat(F.lit("vm"), s(t % 2))),
            (tr, "entityName",
             F.concat(F.lit(":en"), s(t % 3), F.lit(":"))),
            (tr, "zone", F.lit("z1")),
            (j == 0, "instanceName", F.concat(F.lit("inst"),
                                              s(t % 2))),
            (t % 5 == 0, "cpu", F.concat(F.lit("cpu"), s(j % 2))),
            ((t % 7 == 0) & (j != 0), "host.name", F.lit("dh")),
        ).alias("attrs"),
        F.when(t % 7 != 0,
               F.create_map(F.lit("host.name"),
                            F.concat(F.lit("h"), s(t % 2))))
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("res_attrs"),
    )
    out = helix_metrics(fx, id_cols=["i"])
    return out.select(
        "i", "row_kind", "value", "timestamp_ms",
        F.expr(_FLAT.format(m="labels")).alias("labels_csv"),
    )


O_HELIX = """
WITH b AS (
  SELECT event_id AS i, event_id AS e, event_id // 5 AS t,
         event_id % 5 AS j
  FROM events
), c AS (
  SELECT *,
    CASE WHEN t % 3 = 0 THEN 'hx.mratio'
         ELSE 'hx.m' || CAST(t % 3 AS VARCHAR) END AS base_name,
    CASE WHEN t % 3 = 0 THEN '1' ELSE 'ms' END AS unit,
    t % 2 = 0 AND t % 4 = 0 AS flag,
    (1700000000 + e) * 1000 AS ts_ms,
    CASE e % 3 WHEN 1 THEN CAST(e % 10 AS DOUBLE)
      WHEN 2 THEN (e % 9) * 0.5 ELSE 0.0 END AS val,
    'vm' || CAST(t % 2 AS VARCHAR) AS etype,
    'en' || CAST(t % 3 AS VARCHAR) AS ename,
    CASE WHEN j = 0 THEN 'inst' || CAST(t % 2 AS VARCHAR)
         ELSE ':en' || CAST(t % 3 AS VARCHAR) || ':' END AS iname,
    CASE WHEN t % 7 <> 0 THEN 'h' || CAST(t % 2 AS VARCHAR)
         WHEN j <> 0 THEN 'dh' END AS host,
    t % 5 = 0 AS has_cpu
  FROM b
), alive AS (
  SELECT *,
    'OTEL:' || host || ':' || etype || ':' || ename AS eid,
    CASE WHEN has_cpu THEN base_name || '.cpu'
      || CAST(j % 2 AS VARCHAR) ELSE base_name END AS final_name
  FROM c WHERE host IS NOT NULL
), lbl AS (
  SELECT *,
    array_to_string(list_sort(list_filter([
      'entityId=' || eid,
      'entityName=' || ename,
      'entityTypeId=' || etype,
      'host.name=' || host,
      'hostType=server',
      'hostname=' || host,
      'instanceName=' || iname,
      'isDeviceMappingEnabled=true',
      'parentEntityName=' || etype || '_container',
      'parentEntityTypeId=' || etype || '_container',
      'source=OTEL',
      'zone=z1'
    ], x -> x IS NOT NULL)), ',') AS common_csv
  FROM alive
), rows0 AS (
  SELECT i, eid, final_name AS name, unit, flag, ts_ms, val,
         common_csv
  FROM lbl
  UNION ALL
  SELECT i, eid,
    CASE WHEN final_name LIKE '%ratio'
      THEN substr(final_name, 1, length(final_name) - 5) || 'percent'
      ELSE final_name || '.percent' END,
    '%', flag, ts_ms, val * 100, common_csv
  FROM lbl WHERE unit = '1'
), rated AS (
  SELECT *,
    lag(val) OVER w AS pv, lag(ts_ms) OVER w AS pt
  FROM rows0
  WINDOW w AS (PARTITION BY eid, name ORDER BY ts_ms)
), rate_rows AS (
  SELECT i, eid, name || '.rate' AS name, unit || '/s' AS unit,
    FALSE AS flag, ts_ms,
    greatest(val - pv, 0.0) / ((ts_ms - pt) / 1000.0) AS val,
    common_csv
  FROM rated
  WHERE flag AND pt IS NOT NULL AND ts_ms > pt
), allrows AS (
  SELECT i, name, unit, ts_ms, val, common_csv FROM rows0
  UNION ALL
  SELECT i, name, unit, ts_ms, val, common_csv FROM rate_rows
)
SELECT i, 'metric' AS row_kind, val AS value, ts_ms AS timestamp_ms,
  array_to_string(list_sort(
    list_append(list_append(string_split(common_csv, ','),
                'metricName=' || name), 'unit=' || unit)), ',')
    AS labels_csv
FROM allrows
UNION ALL
SELECT NULL, 'parent', NULL, NULL,
  array_to_string(list_sort([
    'entityId=OTEL:' || host || ':' || etype || '_container:'
      || etype || '_container',
    'entityName=' || etype || '_container',
    'entityTypeId=' || etype || '_container',
    'hostname=' || host,
    'source=OTEL',
    'isDeviceMappingEnabled=true',
    'hostType=server',
    'metricName=identity'
  ]), ',')
FROM (SELECT DISTINCT host, etype FROM alive)
"""

EXT33_QUERIES["helix_metrics"] = q_helix_metrics
EXT33_ORACLES["helix_metrics"] = O_HELIX
