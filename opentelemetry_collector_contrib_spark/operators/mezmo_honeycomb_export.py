"""Mezmo and Honeycomb-marker EXPORT translators
(``exporter/mezmoexporter/exporter.go``,
``exporter/honeycombmarkerexporter/logs_exporter.go``).

``mezmo_log_lines`` (exporter.go:75-135), one row per log record:

- meta = ``hostname`` from the RESOURCE ``host.name`` when present,
  ``trace.id``/``span.id`` hex when the ids are non-empty, then every
  log attr via Str() — a non-string attr contributes "" — truncated
  to 32 KiB (:93-109); rendered as a sorted k=v CSV (the payload is a
  JSON map, Go marshals map keys sorted)
- app = the ``appname`` attr's Str() (missing → ""), ≤512 chars
  (:111-112); level = severity text ≤80 chars, "" → "info"
  (:119-122); line = body Str() ≤16 KiB (:126)
- timestamp = ns → UnixMilli; a ZERO timestamp becomes wall-clock
  time.Now() in the reference — emitted as NULL here for
  determinism (:114-117, documented divergence)

``honeycomb_markers`` (logs_exporter.go:76-127), one row per
(log record × matching marker):

- each marker's OTTL log conditions gate the record (the engine's
  OTTL statement compiler evaluates them as Columns)
- payload = {"type": marker type, "message"/"url": the attrs named
  by message_key/url_key when PRESENT (AsString)} — Go json.Marshal
  of a map emits sorted keys, reproduced via sorted to_json
- dataset_slug defaults to ``__all__`` (:28, :125-128)
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_MESSAGE_SIZE = 16 * 1024   # config.go:28
MAX_META_SIZE = 32 * 1024      # config.go:29
MAX_APPNAME_LEN = 512          # config.go:30
MAX_LOG_LEVEL_LEN = 80         # config.go:31
DEFAULT_DATASET_SLUG = "__all__"


def _trunc(c: Column, n: int) -> Column:
    return F.substring(c, 1, n)


def mezmo_log_lines(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    attrs = F.coalesce(F.col("attrs"),
                       F.expr("map()").cast("map<string,string>"))
    host = F.col("res_attrs")["host.name"]
    tid = F.coalesce(F.col("trace_id"), F.lit(""))
    sid = F.coalesce(F.col("span_id"), F.lit(""))

    def ent(cond: Column, key: str, value: Column) -> Column:
        return F.when(cond, F.array(F.struct(
            F.lit(key).alias("key"), value.alias("value")))).otherwise(
            F.expr("array()").cast("array<struct<key:string,"
                                   "value:string>>"))

    meta = F.concat(
        ent(host.isNotNull(), "hostname", host),
        ent(tid != "", "trace.id", tid),
        ent(sid != "", "span.id", sid),
        F.transform(F.map_entries(attrs), lambda e: F.struct(
            e["key"].alias("key"),
            _trunc(e["value"], MAX_META_SIZE).alias("value"))),
    )
    # later writes win (Go map assignment), keys sorted for render
    dedup = F.filter(
        meta,
        lambda x, i: ~F.exists(
            F.slice(meta, i + 2,
                    F.greatest(F.size(meta) - i - 1, F.lit(0))),
            lambda y: y["key"] == x["key"]))
    level = _trunc(F.coalesce(F.col("severity_text"), F.lit("")),
                   MAX_LOG_LEVEL_LEN)
    ts_ms = F.expr("CAST(ts_ns AS BIGINT) div 1000000")

    return df.select(
        *id_cols,
        F.when(ts_ms != 0, ts_ms).alias("ts_ms"),  # 0 -> Now() (ref)
        _trunc(F.coalesce(F.col("body"), F.lit("")),
               MAX_MESSAGE_SIZE).alias("line"),
        _trunc(F.coalesce(attrs["appname"], F.lit("")),
               MAX_APPNAME_LEN).alias("app"),
        F.when(level == "", F.lit("info")).otherwise(level)
        .alias("level"),
        F.array_join(F.array_sort(F.transform(
            dedup, lambda e: F.concat(e["key"], F.lit("="),
                                      e["value"]))), ",")
        .alias("meta"),
    )


@dataclass
class Marker:
    """One markers[] config entry (config.go:44-60)."""

    type: str
    log_conditions: list[str] = field(default_factory=list)
    message_key: str = "message"
    url_key: str = "url"
    dataset_slug: str = ""


def honeycomb_markers(
    df: DataFrame,
    *,
    id_cols: list[str],
    markers: list[Marker],
) -> DataFrame:
    from ..functions.ottl_compiler import compile_condition

    attrs = F.col("attributes")
    out = None
    for m in markers:
        cond = F.lit(True)
        for c in m.log_conditions:
            cond = cond & F.coalesce(compile_condition(c), F.lit(False))
        msg = attrs[m.message_key]
        url = attrs[m.url_key]
        payload = F.to_json(F.map_from_entries(F.array_sort(F.filter(
            F.array(
                F.struct(F.lit("type").alias("key"),
                         F.lit(m.type).alias("value")),
                F.when(msg.isNotNull(), F.struct(
                    F.lit("message").alias("key"), msg.alias("value"))),
                F.when(url.isNotNull(), F.struct(
                    F.lit("url").alias("key"), url.alias("value"))),
            ), lambda x: x.isNotNull()))))
        part = df.where(cond).select(
            *id_cols,
            F.lit(m.type).alias("marker_type"),
            payload.alias("payload"),
            F.lit(m.dataset_slug or DEFAULT_DATASET_SLUG)
            .alias("dataset_slug"),
        )
        out = part if out is None else out.unionAll(part)
    return out
