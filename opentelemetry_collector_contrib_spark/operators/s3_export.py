"""AWS S3 EXPORT translator: the S3 exporter's marshaler + object-key
semantics (``exporter/awss3exporter/{body_marshaler,sumo_marshaler}.go``
+ ``internal/upload/partition.go``).

- body lines      — body_marshaler.go:25-44: one line per record,
  Body().AsString() verbatim
- SumoIC lines    — sumo_marshaler.go:76-166: one JSON line per log
  record: date = the observed pcommon.Timestamp .String() rendering
  ("2006-01-02 15:04:05.999999999 +0000 UTC", trailing zeros
  trimmed), quoted _sourceName/_sourceHost/_sourceCategory resource
  attrs (all three REQUIRED — a missing one fails the batch; here it
  dead-letters the row), fields = the remaining resource attrs as
  sorted-key JSON, message = log attrs + the body under "log"
  (sorted-key JSON) — the exact printf frame replayed, including its
  unspaced key quirks
- object keys     — partition.go:47-108: <prefix>/<strftime bucket>/
  <file_prefix><metadata>_<unique><.format><.gz> — the strftime
  directives translate through the engine's strptime table, the
  unique key is injected (the reference draws a random int;
  deterministic here by design)

Zero-shuffle projections; the partitioned-write itself is this
engine's native ``partitionBy`` sink.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strptime import strptime_to_spark
from .cloudwatch_export import _jstr, _sorted_map_json


def _go_time_string(ts_ns: Column) -> Column:
    """pcommon.Timestamp.String() = time.Time.String() in UTC."""
    ts_ns = F.coalesce(ts_ns, F.lit(0))
    secs = ((ts_ns - F.pmod(ts_ns, F.lit(1_000_000_000)))
            .cast("decimal(38,0)") / 1_000_000_000).cast("bigint")
    base = F.date_format(F.timestamp_seconds(secs),
                         "yyyy-MM-dd HH:mm:ss")
    ns = F.pmod(ts_ns, F.lit(1_000_000_000))
    frac = F.when(ns > 0, F.concat(
        F.lit("."),
        F.regexp_replace(F.lpad(ns.cast("string"), 9, "0"),
                         r"0+$", ""))).otherwise(F.lit(""))
    return F.concat(base, frac, F.lit(" +0000 UTC"))


def s3_sumoic_lines(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    res = F.col("res_attrs")
    g = lambda k: F.element_at(res, F.lit(k))  # noqa: E731
    sc, sh, sn = g("_sourceCategory"), g("_sourceHost"), g("_sourceName")
    err = sc.isNull() | sh.isNull() | sn.isNull()
    fields = _sorted_map_json(F.map_filter(
        res, lambda k, _v: ~k.isin("_sourceCategory", "_sourceHost",
                                   "_sourceName")))
    message = _sorted_map_json(F.map_from_entries(F.concat(
        F.coalesce(F.map_entries(F.col("attrs")),
                   F.expr("array()").cast(
                       "array<struct<key:string,value:string>>")),
        F.array(F.struct(F.lit("log").alias("key"),
                         F.coalesce(F.col("body"), F.lit(""))
                         .alias("value"))))))
    line = F.concat(
        F.lit('{"date": "'), _go_time_string(F.col("observed_ns")),
        F.lit('","sourceName":'), _jstr(sn),
        F.lit(',"sourceHost":'), _jstr(sh),
        F.lit(',"sourceCategory":'), _jstr(sc),
        F.lit(',"fields":'), fields,
        F.lit(',"message":'), message, F.lit("}"))
    return df.select(
        *id_cols, err.alias("err"),
        F.when(~err, line).alias("line"))


def s3_partition_keys(
    df: DataFrame,
    *,
    id_cols: list[str],
    partition_prefix: str = "",
    file_prefix: str = "",
    metadata: str = "logs",
    file_format: str = "json",
    compression: str = "",
    unique_key: str = "000000001",
) -> DataFrame:
    """partition.go:47-76 — the object key for each row's timestamp;
    an ``s3_prefix`` attr-style override column (when present) takes
    the directory prefix's place."""
    spark_fmt = strptime_to_spark("year=%Y/month=%m/day=%d/hour=%H/minute=%M")
    ts = F.timestamp_seconds(
        ((F.coalesce(F.col("ts_ns"), F.lit(0))
          - F.pmod(F.coalesce(F.col("ts_ns"), F.lit(0)),
                   F.lit(1_000_000_000))).cast("decimal(38,0)")
         / 1_000_000_000).cast("bigint"))
    override = (F.col("prefix_override")
                if "prefix_override" in df.columns
                else F.lit(None).cast("string"))
    prefix = F.coalesce(F.nullif(override, F.lit("")),
                        F.lit(partition_prefix))
    dir_part = F.concat(
        F.when(prefix != "", F.concat(prefix, F.lit("/")))
        .otherwise(F.lit("")),
        F.date_format(ts, spark_fmt))
    suffix = ("." + file_format if file_format else "") + \
        (".gz" if compression == "gzip" else "")
    fname = F.lit(f"{file_prefix}{metadata}_{unique_key}{suffix}")
    return df.select(
        *id_cols,
        F.concat(dir_part, F.lit("/"), fname).alias("object_key"))
