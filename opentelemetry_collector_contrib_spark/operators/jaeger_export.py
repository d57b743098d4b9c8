"""Jaeger EXPORT translator: OTLP spans → Jaeger proto span models
(``pkg/translator/jaeger/traces_to_jaegerproto.go``; the receive
direction is ``operators/jaeger.py::jaeger_batches_to_spans``).

Vectorized Column algebra, per-span:

- process                       — traces_to_jaegerproto.go:74-108
  (serviceName = resource ``service.name``'s Str() — "" when the key
  exists with a non-string type, the fixed ``OTLPResourceNoServiceName``
  only when the resource map is EMPTY; process tags = every resource
  attr except service.name, insertion order)
- ids                           — :222-233 (idutils uint64 pairs:
  big-endian halves of the 32-hex trace id → High/Low int64
  two's-complement; 16-hex span id → one uint64; empty → 0)
- references                    — :235-278 (parent CHILD_OF emitted
  FIRST when parent id != 0; links follow in order with refType from
  the ``opentracing.ref_type`` attr — "child_of" → CHILD_OF, anything
  else → FOLLOWS_FROM; a link that repeats (traceID, parentSpanID)
  overrides refs[0].RefType — last match wins — and is skipped)
- tag assembly                  — :161-220 (order: otel.scope.name /
  otel.scope.version when non-empty, span attrs, span.kind word
  (lowercase opentracing names, unspecified → no tag), otel.status_code
  OK/ERROR, error=true BOOL for StatusCodeError, non-empty
  otel.status_description, w3c.tracestate; EMPTY result → nil tags)
- typed tags                    — :119-142 (str/int/bool/double/bytes
  keep their VType; map/slice collapse to STRING via AsString)
- logs                          — :280-301 (per event: an ``event``
  STRING field holding the name is injected FIRST unless the name is
  empty or the event already has an ``event`` attr; then event attrs)
- time                          — :148-159 (StartTime + Duration =
  end − start, no zero-suppression in this direction)

Model notes: tags render as ordered ``key=VTYPE:value`` CSV (values in
their canonical string forms, binary as hex); references render as
``high|low|span|REFTYPE``; the batch-level nil (empty resource AND no
scope spans, :40-43) is a container rule with no per-row counterpart.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NO_SERVICE_NAME = "OTLPResourceNoServiceName"   # tracetranslator:23

# typed attr entry (mirrors the receive direction's _TAG shape)
TAG_T = ("struct<key:string,vtype:string,vstr:string,vint:bigint,"
         "vbool:boolean,vdouble:double,vbinary:binary>")
_TAGS_T = f"array<{TAG_T}>"

_KIND_WORDS = ["", "internal", "server", "client", "producer",
               "consumer"]  # OpenTracingSpanKind*, :303-325


def _hex_to_i64(h: Column) -> Column:
    """16 lowercase hex chars → two's-complement int64 (idutils).

    Composed from two 32-bit halves; ``shiftleft`` wraps like Java
    long arithmetic, reproducing the uint64 → int64 rendering.
    """
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    return F.when(F.coalesce(h, F.lit("")) == "", F.lit(0)).otherwise(
        F.shiftleft(hi, 32).bitwiseOR(lo))


def _render_tag(t: Column) -> Column:
    """key=VTYPE:value — attributeToJaegerProtoTag (:119-142)."""
    vtype = F.upper(t["vtype"])
    word = (F.when(vtype == "INT", F.lit("INT64"))
            .when(vtype == "DOUBLE", F.lit("FLOAT64"))
            .when(vtype == "BINARY", F.lit("BINARY"))
            .when(vtype == "BOOL", F.lit("BOOL"))
            .otherwise(F.lit("STRING")))  # str + map/slice AsString
    val = (F.when(vtype == "INT", t["vint"].cast("string"))
           .when(vtype == "DOUBLE", t["vdouble"].cast("string"))
           .when(vtype == "BINARY", F.lower(F.hex(t["vbinary"])))
           .when(vtype == "BOOL",
                 F.when(t["vbool"], "true").otherwise("false"))
           .otherwise(F.coalesce(t["vstr"], F.lit(""))))
    return F.concat(t["key"], F.lit("="), word, F.lit(":"),
                    F.coalesce(val, F.lit("")))


def _str_tag(key, value: Column) -> Column:
    return F.concat(F.lit(key + "=STRING:"), value)


def _tags_csv(entries: Column) -> Column:
    return F.array_join(F.coalesce(entries, F.expr("array()")
                                   .cast("array<string>")), ",")


def jaeger_export_spans(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    res = F.coalesce(F.col("res_attrs"), F.expr("array()").cast(_TAGS_T))
    attrs = F.coalesce(F.col("attrs"), F.expr("array()").cast(_TAGS_T))
    kind = F.coalesce(F.col("kind"), F.lit(0)).cast("int")
    status = F.coalesce(F.col("status_code"), F.lit(0)).cast("int")
    msg = F.coalesce(F.col("status_message"), F.lit(""))
    tstate = F.coalesce(F.col("trace_state"), F.lit(""))
    start_ns = F.coalesce(F.col("start_ns"), F.lit(0)).cast("bigint")
    end_ns = F.coalesce(F.col("end_ns"), F.lit(0)).cast("bigint")
    scope_name = (F.coalesce(F.col("scope_name"), F.lit("")))
    scope_ver = (F.coalesce(F.col("scope_version"), F.lit("")))

    # --- process (resourceToJaegerProtoProcess :74-94) -------------------
    svc_entries = F.filter(res, lambda t: t["key"] == "service.name")
    svc = F.when(F.size(res) == 0, F.lit(NO_SERVICE_NAME)).otherwise(
        F.when(F.size(svc_entries) > 0,
               F.coalesce(
                   F.when(F.element_at(svc_entries, 1)["vtype"] == "string",
                          F.element_at(svc_entries, 1)["vstr"]),
                   F.lit("")))
        .otherwise(F.lit("")))
    process_tags = F.transform(
        F.filter(res, lambda t: t["key"] != "service.name"), _render_tag)

    # --- span tag assembly (getJaegerProtoSpanTags :161-220) -------------
    lib_entries = F.concat(
        F.when(scope_name != "",
               F.array(_str_tag("otel.scope.name", scope_name)))
        .otherwise(F.expr("array()").cast("array<string>")),
        F.when(scope_ver != "",
               F.array(_str_tag("otel.scope.version", scope_ver)))
        .otherwise(F.expr("array()").cast("array<string>")))
    kind_word = F.element_at(
        F.array(*[F.lit(w) for w in _KIND_WORDS]),
        F.when((kind >= 0) & (kind <= 5), kind).otherwise(F.lit(0)) + 1)
    trailer = F.filter(F.array(
        F.when(kind_word != "", _str_tag("span.kind", kind_word)),
        F.when(status == 2, _str_tag("otel.status_code", F.lit("ERROR")))
        .when(status == 1, _str_tag("otel.status_code", F.lit("OK"))),
        F.when(status == 2, F.lit("error=BOOL:true")),
        F.when(msg != "", _str_tag("otel.status_description", msg)),
        F.when(tstate != "", _str_tag("w3c.tracestate", tstate)),
    ), lambda e: e.isNotNull())
    span_tags = F.concat(lib_entries, F.transform(attrs, _render_tag),
                         trailer)

    # --- references (makeJaegerProtoReferences :235-278) -----------------
    tid_high = _hex_to_i64(F.substring(F.col("trace_id"), 1, 16))
    tid_low = _hex_to_i64(F.substring(F.col("trace_id"), 17, 16))
    sid = _hex_to_i64(F.col("span_id"))
    parent = _hex_to_i64(F.col("parent_span_id"))

    links = F.coalesce(
        F.col("links"),
        F.expr("array()").cast(
            f"array<struct<trace_id:string,span_id:string,"
            f"attrs:{_TAGS_T}>>"))

    def l_high(ln):
        return _hex_to_i64(F.substring(ln["trace_id"], 1, 16))

    def l_low(ln):
        return _hex_to_i64(F.substring(ln["trace_id"], 17, 16))

    def l_sid(ln):
        return _hex_to_i64(ln["span_id"])

    def l_type(ln):
        # refTypeFromLink (:406-419): attr absent → FOLLOWS_FROM
        rt = F.filter(F.coalesce(ln["attrs"], F.expr("array()")
                                 .cast(_TAGS_T)),
                      lambda t: t["key"] == "opentracing.ref_type")
        return F.when(
            (F.size(rt) > 0)
            & (F.element_at(rt, 1)["vstr"] == "child_of"),
            F.lit("CHILD_OF")).otherwise(F.lit("FOLLOWS_FROM"))

    def match(ln):
        return ((parent != 0) & (l_high(ln) == tid_high)
                & (l_low(ln) == tid_low) & (l_sid(ln) == parent))

    overrides = F.filter(links, match)
    ref0_type = F.when(F.size(overrides) > 0,
                       l_type(F.element_at(overrides, -1))) \
        .otherwise(F.lit("CHILD_OF"))

    def render_ref(high, low, span, rtype):
        return F.concat_ws("|", high.cast("string"), low.cast("string"),
                           span.cast("string"), rtype)

    refs = F.concat(
        F.when(parent != 0,
               F.array(render_ref(tid_high, tid_low, parent, ref0_type)))
        .otherwise(F.expr("array()").cast("array<string>")),
        F.transform(F.filter(links, lambda ln: ~match(ln)),
                    lambda ln: render_ref(l_high(ln), l_low(ln),
                                          l_sid(ln), l_type(ln))))

    # --- logs (spanEventsToJaegerProtoLogs :280-301) ----------------------
    events = F.coalesce(
        F.col("events"),
        F.expr("array()").cast(
            f"array<struct<ts_ns:bigint,name:string,attrs:{_TAGS_T}>>"))

    def render_log(ev):
        ev_attrs = F.coalesce(ev["attrs"],
                              F.expr("array()").cast(_TAGS_T))
        has_event_attr = F.exists(ev_attrs, lambda t: t["key"] == "event")
        name_field = F.when(
            (F.coalesce(ev["name"], F.lit("")) != "") & ~has_event_attr,
            F.array(_str_tag("event", ev["name"]))) \
            .otherwise(F.expr("array()").cast("array<string>"))
        return F.concat(
            ev["ts_ns"].cast("string"), F.lit("~"),
            F.array_join(F.concat(name_field,
                                  F.transform(ev_attrs, _render_tag)), ","))

    return df.select(
        *id_cols,
        svc.alias("service_name"),
        _tags_csv(process_tags).alias("process_tags"),
        tid_high.alias("trace_id_high"),
        tid_low.alias("trace_id_low"),
        sid.alias("span_id_u64"),
        F.coalesce(F.col("name"), F.lit("")).alias("op_name"),
        F.array_join(refs, ";").alias("refs"),
        start_ns.alias("start_ns"),
        (end_ns - start_ns).alias("duration_ns"),
        _tags_csv(span_tags).alias("tags"),
        F.array_join(F.transform(events, render_log), ";").alias("logs"),
    )
