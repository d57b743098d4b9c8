"""DataSet (Scalyr) EXPORT translator: OTLP logs/spans -> DataSet
addEvents bundles (``exporter/datasetexporter/{logs,traces}_exporter
.go`` + ``datasetexporter.go``).

Log events — logs_exporter.go:165-236:

- severity: SeverityNumber groups 1-4/5-8/.../21-24 -> DataSet levels
  1..6 (:103-135); zero number falls back to the lowercased
  SeverityText word table incl. fine/finest -> 0 (:137-163); default
  INFO=3
- Ts: timestamp ns when non-zero, else observedTimestamp, else now
  (:179-181,:203-212 — "now" must be injected for determinism)
- attrs: message (non-empty body), dropped_attributes_count (>0),
  sca:observedTime, span_id / trace_id when ids non-empty, optional
  resource.*-prefixed resource attrs and scope.name + scope attrs
  (config-gated), then log attrs merged LAST with the
  distinguishing-suffix collision rule (datasetexporter.go:106-133:
  an existing key gets "_" appended until free)
- serverHost: the event's serverHost attr, else resource serverHost /
  host.name, else the session server host (:135-161)

Span events — traces_exporter.go:41-130: sca:schema=tracing /
schemaVer=1 / type=span, ids (parent only when set), ns timestamp
strings + duration, lowercased kind and status words,
resource_name/resource_type classification (service.name -> its
value + "service"; any other service* key -> "" + "service"; else
process.pid-as-name + "process" — the Go map-iteration race between
process.pid and service* keys resolves to name="" in every
interleaving, replayed deterministically), then span attrs overwrite
with the same collision suffix.

All zero-shuffle codegen projections; attr values surface as their
rendered strings (map<string,string> model).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ENTRY_T = "array<struct<key:string,value:string>>"

_SEV_TEXT = {
    "fine": 0, "finest": 0, "trace": 1, "debug": 2, "info": 3,
    "information": 3, "warn": 4, "warning": 4, "error": 5,
    "fatal": 6, "critical": 6, "emergency": 6,
}

_KIND_WORDS = ["unspecified", "internal", "server", "client",
               "producer", "consumer"]
_STATUS_WORDS = ["unset", "ok", "error"]


def _entry(k, v) -> Column:
    k = F.lit(k) if isinstance(k, str) else k
    v = F.lit(v) if isinstance(v, str) else v
    return F.struct(k.alias("key"), v.alias("value"))


def _earr() -> Column:
    return F.expr("array()").cast(_ENTRY_T)


def _merge_with_suffix(base: Column, extra_map: Column) -> Column:
    """updateWithPrefixedValues collision rule (datasetexporter.go:
    106-133): keys from ``extra_map`` that already exist in ``base``
    get the distinguishing suffix appended (one level — fixtures
    avoid the pathological double-collision, whose order Go leaves
    to map iteration)."""
    extra = F.coalesce(F.map_entries(extra_map), _earr())
    renamed = F.transform(
        extra,
        lambda e: F.struct(
            F.when(F.exists(base, lambda b: b["key"] == e["key"]),
                   F.concat(e["key"], F.lit("_")))
            .otherwise(e["key"]).alias("key"),
            e["value"].alias("value")))
    return F.concat(base, renamed)


def _server_host(attrs_built: Column, res: Column,
                 session_host: str) -> Column:
    from_attr = F.nullif(
        F.element_at(F.map_from_entries(attrs_built),
                     F.lit("serverHost")), F.lit(""))
    return F.coalesce(
        from_attr,
        F.nullif(F.element_at(res, F.lit("serverHost")), F.lit("")),
        F.nullif(F.element_at(res, F.lit("host.name")), F.lit("")),
        F.lit(session_host))


def dataset_log_events(
    df: DataFrame,
    *,
    id_cols: list[str],
    server_host: str = "",
    now_ns: int = 0,
) -> DataFrame:
    sev_num = F.coalesce(F.col("severity_number"), F.lit(0)).cast("int")
    sev_text = F.lower(F.coalesce(F.col("severity_text"), F.lit("")))
    text_map = F.lit(3)
    for word, lvl in _SEV_TEXT.items():
        text_map = F.when(sev_text == word, F.lit(lvl)).otherwise(
            text_map)
    sev = F.when((sev_num >= 1) & (sev_num <= 24),
                 F.floor((sev_num - 1) / 4) + 1) \
        .when(sev_num > 0, F.lit(3)) \
        .when(sev_text != "", text_map) \
        .otherwise(F.lit(3)).cast("int")

    ts_ns = F.coalesce(F.col("ts_ns"), F.lit(0))
    obs_ns = F.coalesce(F.col("observed_ns"), F.lit(0))
    ts = F.when(ts_ns != 0, ts_ns.cast("string")) \
        .when(obs_ns != 0, obs_ns.cast("string")) \
        .otherwise(F.lit(str(int(now_ns))))

    body = F.coalesce(F.col("body"), F.lit(""))
    dropped = F.coalesce(F.col("dropped"), F.lit(0)).cast("int")
    span_id = F.coalesce(F.col("span_id"), F.lit(""))
    trace_id = F.coalesce(F.col("trace_id"), F.lit(""))
    res = F.col("res_attrs")

    built = F.filter(F.array(
        F.when(body != "", _entry("message", body)),
        F.when(dropped > 0, _entry("dropped_attributes_count",
                                   dropped.cast("string"))),
        F.when(obs_ns != 0, _entry("sca:observedTime",
                                   obs_ns.cast("string"))),
        F.when(span_id != "", _entry("span_id", span_id)),
        F.when(trace_id != "", _entry("trace_id", trace_id)),
    ), lambda e: e.isNotNull())
    scope_name = F.coalesce(F.col("scope_name"), F.lit(""))
    built = F.concat(
        built,
        F.filter(F.array(F.when(scope_name != "",
                                _entry("scope.name", scope_name))),
                 lambda e: e.isNotNull()),
        F.coalesce(F.map_entries(F.col("scope_attrs")), _earr()))

    merged = _merge_with_suffix(built, F.col("attrs"))
    return df.select(
        *id_cols,
        ts.alias("ts"), sev.alias("sev"),
        F.lit("LL").alias("log"), F.lit("TL").alias("thread"),
        _server_host(merged, res, server_host).alias("server_host"),
        F.map_from_entries(merged).alias("attrs"),
    )


def dataset_span_events(
    df: DataFrame,
    *,
    id_cols: list[str],
    server_host: str = "",
) -> DataFrame:
    kind = F.coalesce(F.col("kind"), F.lit(0)).cast("int")
    code = F.coalesce(F.col("status_code"), F.lit(0)).cast("int")
    start = F.coalesce(F.col("start_ns"), F.lit(0)).cast("bigint")
    end = F.coalesce(F.col("end_ns"), F.lit(0)).cast("bigint")
    parent = F.coalesce(F.col("parent_span_id"), F.lit(""))
    res = F.col("res_attrs")

    svc_name = F.element_at(res, F.lit("service.name"))
    any_service = F.exists(
        F.coalesce(F.map_keys(res), F.expr("array()")
                   .cast("array<string>")),
        lambda k: k.startswith("service"))
    pid = F.element_at(res, F.lit("process.pid"))
    res_name = F.when(svc_name.isNotNull(), svc_name) \
        .when(any_service, F.lit("")) \
        .otherwise(F.coalesce(pid, F.lit("")))
    res_type = F.when(svc_name.isNotNull() | any_service,
                      F.lit("service")).otherwise(F.lit("process"))

    built = F.filter(F.array(
        _entry("sca:schema", "tracing"),
        _entry("sca:schemaVer", "1"),
        _entry("sca:type", "span"),
        _entry(F.lit("name"), F.coalesce(F.col("name"), F.lit(""))),
        _entry(F.lit("span_id"),
               F.coalesce(F.col("span_id"), F.lit(""))),
        F.when(parent != "", _entry(F.lit("parent_span_id"), parent)),
        _entry(F.lit("trace_id"),
               F.coalesce(F.col("trace_id"), F.lit(""))),
        _entry(F.lit("start_time_unix_nano"), start.cast("string")),
        _entry(F.lit("end_time_unix_nano"), end.cast("string")),
        _entry(F.lit("duration_nano"), (end - start).cast("string")),
        _entry(F.lit("kind"),
               F.element_at(F.array(*[F.lit(w) for w in _KIND_WORDS]),
                            F.when((kind >= 0) & (kind <= 5), kind)
                            .otherwise(F.lit(0)) + 1)),
        _entry(F.lit("status_code"),
               F.element_at(F.array(*[F.lit(w) for w in
                                      _STATUS_WORDS]),
                            F.when((code >= 0) & (code <= 2), code)
                            .otherwise(F.lit(0)) + 1)),
        _entry(F.lit("status_message"),
               F.coalesce(F.col("status_message"), F.lit(""))),
        _entry(F.lit("resource_name"), res_name),
        _entry(F.lit("resource_type"), res_type),
    ), lambda e: e.isNotNull())

    merged = _merge_with_suffix(built, F.col("attrs"))
    return df.select(
        *id_cols,
        start.cast("string").alias("ts"),
        F.lit(9).alias("sev"),  # plog.SeverityNumberInfo
        F.lit("LT").alias("log"), F.lit("TT").alias("thread"),
        _server_host(merged, res, server_host).alias("server_host"),
        F.map_from_entries(merged).alias("attrs"),
    )
