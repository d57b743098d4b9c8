"""Thin vendor exporter translations: coralogix resource metadata +
LogicMonitor log inputs.

- coralogix — ``exporter/coralogixexporter/config.go:102-141`` +
  ``traces_client.go:54-58``: per-resource, the first non-empty attr
  from the configured AppNameAttributes ladder (else the static
  AppName, else a pre-existing ``cx.application.name``) is written
  into ``cx.application.name``, and likewise SubSystemAttributes ->
  ``cx.subsystem.name``; everything else in that exporter is OTLP
  transport (rate limiting / retry are pipeline concerns this
  engine's runtime handles).
- logicmonitor — ``exporter/logicmonitorexporter/logs_exporter.go:
  64-135``: one LogInput per record — body, the ts-else-observed-
  else-now timestamp, the log attrs as metadata, and the resource
  map with the ``hostname`` attr DUPLICATED under
  ``system.hostname`` (the lm-data-sdk transport layer is external).

Both zero-shuffle projections.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CX_APP = "cx.application.name"
CX_SUBSYSTEM = "cx.subsystem.name"


def _ladder(res: Column, attributes: tuple, default: str,
            fallback_key: str) -> Column:
    rungs = [F.nullif(F.element_at(res, F.lit(a)), F.lit(""))
             for a in attributes]
    return F.coalesce(
        *rungs, F.nullif(F.lit(default), F.lit("")),
        F.nullif(F.element_at(res, F.lit(fallback_key)), F.lit("")),
        F.lit(""))


def coralogix_resource_metadata(
    df: DataFrame,
    *,
    id_cols: list[str],
    app_name: str = "",
) -> DataFrame:
    res = F.col("res_attrs")
    app = _ladder(res, ("service.namespace", "k8s.namespace.name"),
                  app_name, CX_APP)
    sub = _ladder(res, ("service.name", "k8s.deployment.name",
                        "k8s.statefulset.name"), "", CX_SUBSYSTEM)
    ents = F.concat(
        F.filter(F.coalesce(F.map_entries(res), F.expr("array()").cast(
            "array<struct<key:string,value:string>>")),
            lambda e: ~e["key"].isin(CX_APP, CX_SUBSYSTEM)),
        F.array(F.struct(F.lit(CX_APP).alias("key"),
                         app.alias("value")),
                F.struct(F.lit(CX_SUBSYSTEM).alias("key"),
                         sub.alias("value"))))
    return df.withColumn("res_attrs", F.map_from_entries(ents))


def logicmonitor_log_inputs(
    df: DataFrame,
    *,
    id_cols: list[str],
    now_ns: int = 0,
) -> DataFrame:
    ts = F.when(F.coalesce(F.col("ts_ns"), F.lit(0)) != 0,
                F.col("ts_ns")) \
        .when(F.coalesce(F.col("observed_ns"), F.lit(0)) != 0,
              F.col("observed_ns")) \
        .otherwise(F.lit(int(now_ns)))
    res = F.col("res_attrs")
    hostname = F.element_at(res, F.lit("hostname"))
    mapper = F.map_from_entries(F.concat(
        F.coalesce(F.when(hostname.isNotNull(), F.array(F.struct(
            F.lit("system.hostname").alias("key"),
            hostname.alias("value")))),
            F.expr("array()").cast(
                "array<struct<key:string,value:string>>")),
        F.coalesce(F.map_entries(res), F.expr("array()").cast(
            "array<struct<key:string,value:string>>"))))
    return df.select(
        *id_cols,
        F.coalesce(F.col("body"), F.lit("")).alias("message"),
        ts.cast("bigint").alias("timestamp_ns"),
        F.col("attrs").alias("metadata"),
        mapper.alias("resource_mapper"),
    )
