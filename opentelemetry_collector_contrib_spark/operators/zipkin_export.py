"""Zipkin EXPORT translator: OTLP spans -> Zipkin v2 span models
(``pkg/translator/zipkin/zipkinv2/from_translator.go``; the receive
direction is ``operators/zipkin.py::zipkin_v2_parse``).

Vectorized Column algebra, per-span:

- service-name extraction      — from_translator.go:276-300
  (service.name > faas.name > k8s.deployment.name >
  process.executable.name > "OTLPResourceNoServiceName"; the winning
  key is DELETED from the tag map and non-service.name sources leave
  an ``otlp.service.name.source`` marker)
- tag aggregation              — :86-98, :190-200
  (resource attrs <- scope attrs <- otel.library.name/version <-
  span attrs, later wins; w3c.tracestate when non-empty;
  span.kind=internal for internal spans)
- endpoints + redundant tags   — :303-356
  (local = net.host.ip/port, remote = peer.service + net.peer.ip/port;
  ParseUint port errors fall to 0; ':' selects IPv6; endpoint nil when
  service=="" and ip unparsable; every CONSULTED key is removed from
  the tags afterwards, present-or-not in the endpoint)
- status                       — :169-188
  (error=true only for StatusCodeError — a pre-existing ``error`` tag
  is DELETED otherwise; otel.status_code=STATUS_CODE_* unless unset;
  otel.status_description + the span-model error when message set)
- events/links                 — :26-29, :202-245
  (annotation value = name alone for attr-less undropped events, else
  "name|{sorted attr json}|dropped"; links become
  otlp.link.N = "traceid|spanid|tracestate|{json}|dropped")
- ids + time                   — :115-146, :358-382
  (empty trace/span id fails the span; timestamp omitted when
  Unix()==0; duration only when the end timestamp is set)

Model notes: attribute values are their AsString forms
(map<string,string>); IP validity is the dotted-quad / ':' heuristic
(net.ParseIP's full grammar is out of model — fixtures use real IPs);
the span-model identity columns keep hex ids (TraceID{High,Low} is a
rendering of the same bytes).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .loki_export import _dedup_last_wins

NO_SERVICE_NAME = "OTLPResourceNoServiceName"   # tracetranslator:23
TAG_SERVICE_NAME_SOURCE = "otlp.service.name.source"  # zipkin/attributes:16
_SVC_KEYS = ["service.name", "faas.name", "k8s.deployment.name",
             "process.executable.name"]

_KIND_WORDS = ["", "", "SERVER", "CLIENT", "PRODUCER", "CONSUMER"]
_STATUS_WORDS = ["STATUS_CODE_UNSET", "STATUS_CODE_OK",
                 "STATUS_CODE_ERROR"]

_ENTRY_T = "array<struct<key:string,value:string>>"


def _entry(key, value) -> Column:
    k = F.lit(key) if isinstance(key, str) else key
    v = F.lit(value) if isinstance(value, str) else value
    return F.struct(k.alias("key"), v.alias("value"))


def _map_entries_of(m: Column) -> Column:
    return F.coalesce(F.map_entries(m), F.expr("array()").cast(_ENTRY_T))


def _sorted_json(m: Column) -> Column:
    """json.Marshal(map[string]string) — sorted keys, '{}' when empty."""
    return F.coalesce(
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(m)))),
        F.lit("{}"))


def _ipv4_ok(s: Column) -> Column:
    return s.rlike(r"^(\d{1,3})(\.\d{1,3}){3}$")


def zipkin_export_spans(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    res = F.col("res_attrs")
    attrs = F.col("attrs")
    kind = F.coalesce(F.col("kind"), F.lit(0)).cast("int")
    status = F.coalesce(F.col("status_code"), F.lit(0)).cast("int")
    msg = F.coalesce(F.col("status_message"), F.lit(""))
    tstate = F.coalesce(F.col("trace_state"), F.lit(""))
    start_ns = F.coalesce(F.col("start_ns"), F.lit(0)).cast("bigint")
    end_ns = F.coalesce(F.col("end_ns"), F.lit(0)).cast("bigint")
    scope_name = (F.coalesce(F.col("scope_name"), F.lit("")))
    scope_ver = (F.coalesce(F.col("scope_version"), F.lit("")))

    # --- service extraction (from_translator.go:276-300) ---------------
    svc_vals = [F.element_at(res, F.lit(k)) for k in _SVC_KEYS]
    local_service = F.coalesce(*svc_vals, F.lit(NO_SERVICE_NAME))
    # which key won (index 1..4; 0 = none)
    won = F.coalesce(
        *[F.when(svc_vals[i].isNotNull(), F.lit(i + 1))
          for i in range(4)],
        F.lit(0))
    res_entries = F.filter(
        _map_entries_of(res),
        lambda e: ~F.exists(
            F.array(*[F.lit(k) for k in _SVC_KEYS]),
            lambda k: (k == e["key"])
            & (k == F.element_at(F.array(*[F.lit(x) for x in
                                           ["", *_SVC_KEYS]]), won + 1))))
    source_entry = F.when(
        won >= 2,
        F.array(_entry(TAG_SERVICE_NAME_SOURCE,
                       F.element_at(F.array(*[F.lit(k) for k in _SVC_KEYS]),
                                    won)))
    ).otherwise(F.expr("array()").cast(_ENTRY_T))

    lib_entries = F.concat(
        F.when(scope_name != "",
               F.array(_entry("otel.library.name", scope_name)))
        .otherwise(F.expr("array()").cast(_ENTRY_T)),
        F.when(scope_ver != "",
               F.array(_entry("otel.library.version", scope_ver)))
        .otherwise(F.expr("array()").cast(_ENTRY_T)))

    singles = F.filter(F.array(
        F.when(tstate != "", _entry("w3c.tracestate", tstate)),
        F.when(kind == 1, _entry("span.kind", "internal")),
    ), lambda e: e.isNotNull())

    merged = _dedup_last_wins(F.concat(
        res_entries, source_entry, lib_entries,
        _map_entries_of(attrs), singles))

    # --- barrier: tags as a concrete map --------------------------------
    stage1 = df.select(
        *id_cols,
        F.col("trace_id").alias("trace_id"),
        F.col("span_id").alias("span_id"),
        F.coalesce(F.col("parent_span_id"), F.lit(""))
        .alias("parent_span_id"),
        F.coalesce(F.col("name"), F.lit("")).alias("name"),
        kind.alias("_kind"), status.alias("_status"), msg.alias("_msg"),
        start_ns.alias("_start"), end_ns.alias("_end"),
        F.map_from_entries(merged).alias("_tags"),
        local_service.alias("local_service"),
        (F.col("events")).alias("_events"),
        (F.col("links")).alias("_links"),
    )
    tags = F.col("_tags")

    # --- endpoints (from_translator.go:303-356) --------------------------
    def endpoint(ip_key: str, port_key: str, service: Column):
        ip_s = F.element_at(tags, F.lit(ip_key))
        port_s = F.element_at(tags, F.lit(port_key))
        is_v6 = F.coalesce(ip_s.contains(":"), F.lit(False))
        ip_ok = F.when(is_v6, ip_s.isNotNull()).otherwise(
            F.coalesce(_ipv4_ok(ip_s), F.lit(False)))
        port = F.coalesce(
            F.when((port_s.cast("bigint") >= 0)
                   & (port_s.cast("bigint") <= 65535)
                   & port_s.rlike("^[0-9]+$"), port_s.cast("bigint")),
            F.lit(0))
        present = (service != "") | ip_ok
        return (service, ip_s, ip_ok, is_v6, port, present)

    peer_svc = F.coalesce(
        F.element_at(tags, F.lit("peer.service")), F.lit(""))
    (_l_svc, l_ip, l_ip_ok, l_v6, l_port, l_present) = endpoint(
        "net.host.ip", "net.host.port", F.col("local_service"))
    (r_svc, r_ip, r_ip_ok, r_v6, r_port, r_present) = endpoint(
        "net.peer.ip", "net.peer.port", peer_svc)

    redundant = ["net.host.ip", "net.host.port", "net.peer.ip",
                 "net.peer.port", "peer.service"]

    status_entries = F.concat(
        F.when(F.col("_status") == 2,
               F.array(_entry("error", "true")))
        .otherwise(F.expr("array()").cast(_ENTRY_T)),
        F.when(F.col("_status") != 0,
               F.array(_entry(
                   "otel.status_code",
                   F.element_at(F.array(*[F.lit(w) for w in
                                          _STATUS_WORDS]),
                                F.col("_status") + 1))))
        .otherwise(F.expr("array()").cast(_ENTRY_T)),
        F.when((F.col("_status") != 0) & (F.col("_msg") != ""),
               F.array(_entry("otel.status_description", F.col("_msg"))))
        .otherwise(F.expr("array()").cast(_ENTRY_T)))

    link_entries = F.coalesce(
        F.transform(
            F.col("_links"),
            lambda ln, i: _entry(
                F.concat(F.lit("otlp.link."), i.cast("string")),
                F.concat_ws("|", F.coalesce(ln["trace_id"], F.lit("")),
                            F.coalesce(ln["span_id"], F.lit("")),
                            F.coalesce(ln["trace_state"], F.lit("")),
                            _sorted_json(ln["attrs"]),
                            F.coalesce(ln["dropped"], F.lit(0))
                            .cast("string")))),
        F.expr("array()").cast(_ENTRY_T))

    # error tag: deleted unless status error (populateStatus:169-177)
    final_tags = F.map_from_entries(_dedup_last_wins(F.concat(
        F.filter(
            _map_entries_of(tags),
            lambda e: ~e["key"].isin(*redundant) & (e["key"] != "error")),
        status_entries, link_entries)))

    annotations = F.coalesce(
        F.transform(
            F.col("_events"),
            lambda ev: F.struct(
                ev["ts_ns"].alias("ts_ns"),
                F.when((F.size(ev["attrs"]) <= 0)
                       & (F.coalesce(ev["dropped"], F.lit(0)) == 0),
                       ev["name"])
                .otherwise(F.concat_ws(
                    "|", ev["name"], _sorted_json(ev["attrs"]),
                    F.coalesce(ev["dropped"], F.lit(0)).cast("string")))
                .alias("value"))),
        F.expr("array()").cast(
            "array<struct<ts_ns:bigint,value:string>>"))

    err = (F.coalesce(F.col("trace_id"), F.lit("")) == "") | \
          (F.coalesce(F.col("span_id"), F.lit("")) == "")

    return stage1.select(
        *id_cols, "trace_id", "span_id", "parent_span_id", "name",
        err.alias("err"),
        F.element_at(F.array(*[F.lit(w) for w in _KIND_WORDS]),
                     F.when((F.col("_kind") >= 0) & (F.col("_kind") <= 5),
                            F.col("_kind")).otherwise(F.lit(0)) + 1)
        .alias("zkind"),
        F.when(F.floor(F.col("_start") / 1000000000) != 0,
               F.col("_start")).alias("ts_ns"),
        F.when(F.col("_end") != 0, F.col("_end") - F.col("_start"))
        .alias("duration_ns"),
        F.col("local_service").alias("local_service_name"),
        F.when(l_ip_ok & ~l_v6, l_ip).alias("local_ipv4"),
        F.when(l_ip_ok & l_v6, l_ip).alias("local_ipv6"),
        F.when(l_present, l_port).alias("local_port"),
        F.when(r_present, r_svc).alias("remote_service_name"),
        F.when(r_ip_ok & ~r_v6, r_ip).alias("remote_ipv4"),
        F.when(r_ip_ok & r_v6, r_ip).alias("remote_ipv6"),
        F.when(r_present, r_port).alias("remote_port"),
        (F.col("_status") == 2).alias("is_error_tagged"),
        F.when((F.col("_status") != 0) & (F.col("_msg") != ""),
               F.col("_msg")).alias("zerr_message"),
        final_tags.alias("tags"),
        annotations.alias("annotations"),
    )
