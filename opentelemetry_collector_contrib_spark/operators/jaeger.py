"""Jaeger proto-model batch → OTLP span translation.

Re-expresses ``pkg/translator/jaeger/jaegerproto_to_traces.go``
(:27-469) over a DataFrame of Jaeger batch JSON documents (one batch
per row — the at-rest form of the model the reference's gRPC receiver
unmarshals; ids are the model's uint64 pairs, timestamps epoch µs as
in the Thrift wire form). Semantics mirrored and pinned by
``tests/test_round5_jaeger.py``:

- ids: ``UInt64ToTraceID(high, low)`` / ``UInt64ToSpanID`` become
  zero-padded lowercase hex (32/16); negative JSON longs are the
  two's-complement uint64s;
- parent (jaeger-idl model/v1 ``Span.ParentSpanID``): first same-trace
  CHILD_OF reference, else first same-trace FOLLOWS_FROM, else none;
  a resolved id of 0 means no parent (:205-208);
- per-span ``process`` takes precedence over the batch process
  (regroup, :48-81) — in the row-per-span model each span simply
  derives its resource from ``coalesce(span.process, batch.process)``;
- resource (:129-172): no attributes when the process is null or its
  serviceName is the ``OTLPResourceNoServiceName`` sentinel, or when
  serviceName is empty and there are no tags; otherwise
  ``service.name`` (when non-empty) + typed process tags, with
  ``hostname``→``host.name`` (only when ``host.name`` absent) and
  ``jaeger.version``→``opencensus.exporterversion`` =
  ``"Jaeger-"+v`` (only when absent);
- scope (:442-462): ``otel.scope.name`` consumed when present;
  ``otel.scope.version`` consumed ONLY when the name tag exists — an
  orphan version tag stays a span attribute;
- kind (:367-381): the ``span.kind`` tag is always consumed; only the
  five exact lowercase values map, anything else → unspecified;
- status (:249-310): an ``error`` tag forces code 2 — only when its
  vType is BOOL and value true (and only then is it consumed);
  message from ``otel.status_description`` (consumed) else
  ``http.status_message`` (NOT consumed). Otherwise
  ``otel.status_code`` (upper-cased OK/ERROR; any other value → code
  0 with status still set; always consumed). Otherwise the
  ``http.status_code`` fallback (INT64 or digit-string; 400-499 →
  client=error / server=no-status / other kinds=error; 100-398 →
  no status; everything else incl. 399 → error) with message from
  ``http.status_message``; neither http tag is consumed;
- trace state from ``w3c.tracestate`` (consumed, :432-440);
- events (:383-411): per log ``ts_ns|name|attrs``; the ``event``
  field becomes the name and is consumed;
- links (:414-430): all references except — when the reference list
  is exactly the one same-``parentSpanID`` CHILD_OF, nothing; else
  every CHILD_OF pointing at the parent id is skipped; each link is
  ``trace32|span16|opentracing.ref_type=child_of|follows_from``;
- tag typing (:230-247): STRING/BOOL/INT64/FLOAT64/BINARY by vType
  (absent vType = STRING, Go zero enum); unknown vType renders
  ``<Unknown Jaeger TagType "X">``. FLOAT64 canonicalizes whole
  doubles as integers (house attr-string rule); BINARY passes the
  at-rest base64 through.

Attribute maps render as the engine's canonical sorted ``k=v`` CSV
with last-wins key dedup (pcommon upsert).

Plan shape: one ``from_json`` + ``explode`` + zero-shuffle codegen
projection — token arrays staged behind a select barrier before
canonicalization (the zipkin/sumologic lambda-staging lesson).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .zipkin import _canon, _tok

_TAG = (
    "struct<key:string,vType:string,vStr:string,vBool:boolean,"
    "vInt64:long,vFloat64:double,vBinary:string>"
)
_PROCESS = f"struct<serviceName:string,tags:array<{_TAG}>>"
_JG_SCHEMA = (
    f"struct<process:{_PROCESS},spans:array<struct<"
    "traceIdHigh:long,traceIdLow:long,spanId:long,operationName:string,"
    f"references:array<struct<traceIdHigh:long,traceIdLow:long,"
    "spanId:long,refType:string>>,"
    "startTime:long,duration:long,"
    f"tags:array<{_TAG}>,"
    f"logs:array<struct<timestamp:long,fields:array<{_TAG}>>>,"
    f"process:{_PROCESS}>>>"
)

NO_SERVICE_NAME = "OTLPResourceNoServiceName"  # tracetranslator:23


def _u64hex(c: Column, width: int) -> Column:
    """uint64 → zero-padded lowercase hex (idutils.UInt64To*ID)."""
    return F.lpad(F.lower(F.hex(F.coalesce(c, F.lit(0)))), width, "0")


def _tag_value(t: Column) -> Column:
    """jTagsToInternalAttributes (:230-247): typed value → canonical
    attr string."""
    vt = F.coalesce(t["vType"], F.lit("STRING"))
    dbl = F.coalesce(t["vFloat64"], F.lit(0.0))
    return (
        F.when(vt == "STRING", F.coalesce(t["vStr"], F.lit("")))
        .when(
            vt == "BOOL",
            F.when(F.coalesce(t["vBool"], F.lit(False)), "true").otherwise(
                "false"
            ),
        )
        .when(vt == "INT64", F.coalesce(t["vInt64"], F.lit(0)).cast("string"))
        .when(
            vt == "FLOAT64",
            F.when(
                dbl == F.floor(dbl), dbl.cast("long").cast("string")
            ).otherwise(dbl.cast("string")),
        )
        .when(vt == "BINARY", F.coalesce(t["vBinary"], F.lit("")))
        .otherwise(
            F.concat(F.lit('<Unknown Jaeger TagType "'), vt, F.lit('">'))
        )
    )


def _tag_tokens(tags: Column) -> Column:
    """tags array → ``k=v`` token array (null-safe, appends in order;
    callers canonicalize with last-wins dedup = pcommon upsert)."""
    arr = F.coalesce(tags, F.from_json(F.lit("[]"), f"array<{_TAG}>"))
    return F.transform(arr, lambda t: _tok(t["key"], _tag_value(t)))


def _find_tag(tags: Column, key: str) -> Column:
    """Last tag struct with ``key`` (pcommon upsert = last wins), null
    when absent."""
    arr = F.coalesce(tags, F.from_json(F.lit("[]"), f"array<{_TAG}>"))
    hits = F.filter(arr, lambda t: t["key"] == key)
    # try_: an empty hits array must yield null, not an ANSI index error
    return F.try_element_at(F.reverse(hits), F.lit(1))


def jaeger_batches_to_spans(
    df: DataFrame
) -> DataFrame:
    """One Jaeger batch JSON per row → one row per span with flattened
    OTLP columns (``jg_*``); resource identity as a canonical attr
    string so the ResourceSpans regroup (:48-81) is one groupBy."""
    parsed = df.select(
        "*", F.from_json(F.col("body"), _JG_SCHEMA).alias("_jg")
    )
    sp = F.col("_sp")
    blank = (
        sp["traceIdHigh"].isNull() & sp["traceIdLow"].isNull()
        & sp["spanId"].isNull() & sp["operationName"].isNull()
        & sp["startTime"].isNull()
    )
    rows = (
        parsed.select(
            "*",
            F.explode(F.col("_jg")["spans"]).alias("_sp"),
            F.col("_jg")["process"].alias("_bproc"),
        )
        .where(sp.isNotNull() & ~blank)  # blankJaegerProtoSpan skip :182
        .drop("_jg", "body")
    )

    tags = sp["tags"]
    tag_of = lambda k: _find_tag(tags, k)  # noqa: E731
    tval = lambda k: _tag_value(_find_tag(tags, k))  # noqa: E731

    # ----- ids + parent (jaeger-idl model/v1 Span.ParentSpanID) -----
    u0 = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    trace_id = F.concat(
        _u64hex(sp["traceIdHigh"], 16), _u64hex(sp["traceIdLow"], 16)
    )
    span_id = _u64hex(sp["spanId"], 16)
    refs = F.coalesce(
        sp["references"],
        F.from_json(
            F.lit("[]"),
            "array<struct<traceIdHigh:long,traceIdLow:long,"
            "spanId:long,refType:string>>",
        ),
    )
    same_trace = lambda r: (  # noqa: E731
        (u0(r["traceIdHigh"]) == u0(sp["traceIdHigh"]))
        & (u0(r["traceIdLow"]) == u0(sp["traceIdLow"]))
    )
    first_co = F.try_element_at(
        F.filter(refs, lambda r: same_trace(r) & (r["refType"] == "CHILD_OF")),
        F.lit(1),
    )
    first_ff = F.try_element_at(
        F.filter(
            refs, lambda r: same_trace(r) & (r["refType"] == "FOLLOWS_FROM")
        ),
        F.lit(1),
    )
    # first same-trace CHILD_OF wins even when its spanId is 0 (the Go
    # loop returns immediately); FOLLOWS_FROM is only the fallback
    parent_sid = (
        F.when(first_co.isNotNull(), u0(first_co["spanId"]))
        .when(first_ff.isNotNull(), u0(first_ff["spanId"]))
        .otherwise(F.lit(0))
    )
    parent_id = F.when(parent_sid != 0, _u64hex(parent_sid, 16))

    # ----- scope (getScope :442-451) -----
    scope_name_tag = tag_of("otel.scope.name")
    has_scope_name = scope_name_tag.isNotNull()
    scope_name = F.when(
        has_scope_name, F.coalesce(scope_name_tag["vStr"], F.lit(""))
    ).otherwise(F.lit(""))
    scope_ver_tag = tag_of("otel.scope.version")
    scope_version = F.when(
        has_scope_name & scope_ver_tag.isNotNull(),
        F.coalesce(scope_ver_tag["vStr"], F.lit("")),
    ).otherwise(F.lit(""))

    # ----- kind (:213-216, :367-381) -----
    kind_tag = tag_of("span.kind")
    kind_str = kind_tag["vStr"]
    kind = F.when(
        kind_str.isin("client", "server", "producer", "consumer", "internal"),
        kind_str,
    ).otherwise(F.lit("unspecified"))

    # ----- status (setInternalSpanStatus :249-310) -----
    err_tag = tag_of("error")
    err_true = (
        err_tag.isNotNull()
        & (F.coalesce(err_tag["vType"], F.lit("STRING")) == "BOOL")
        & F.coalesce(err_tag["vBool"], F.lit(False))
    )
    desc_tag = tag_of("otel.status_description")
    desc = F.when(desc_tag.isNotNull(), _tag_value(desc_tag))
    http_msg_tag = tag_of("http.status_message")
    http_msg = F.when(http_msg_tag.isNotNull(), _tag_value(http_msg_tag))
    code_tag = tag_of("otel.status_code")
    code_up = F.upper(tval("otel.status_code"))
    code_from_tag = (
        F.when(code_up == "OK", 1).when(code_up == "ERROR", 2).otherwise(0)
    )
    http_tag = tag_of("http.status_code")
    http_vt = F.coalesce(http_tag["vType"], F.lit("STRING"))
    http_code = F.when(
        http_tag.isNotNull() & (http_vt == "INT64"), http_tag["vInt64"]
    ).when(
        http_tag.isNotNull() & (http_vt == "STRING"),
        http_tag["vStr"].try_cast("long"),
    )
    # getStatusCodeFromHTTPStatusAttr (:345-365) + StatusCodeFromHTTP
    http_status = F.when(
        (http_code >= 400) & (http_code < 500) & (kind == "client"), 2
    ).when(
        (http_code >= 400) & (http_code < 500) & (kind == "server"), 0
    ).when(
        (http_code >= 100) & (http_code < 399), 0
    ).otherwise(2)
    http_exists = http_code.isNotNull() & (http_status != 0)
    status_code = (
        F.when(err_true, F.lit(2))
        .when(code_tag.isNotNull(), code_from_tag)
        .when(http_exists, http_status)
    )
    status_msg = (
        F.when(err_true, F.coalesce(desc, http_msg, F.lit("")))
        .when(code_tag.isNotNull(), F.coalesce(desc, F.lit("")))
        .when(http_exists, F.coalesce(http_msg, F.lit("")))
    )
    desc_consumed = err_true | code_tag.isNotNull()

    # ----- resource (jProcessToInternalResource :129-172) -----
    proc = F.coalesce(sp["process"], F.col("_bproc"))  # regroup :48-81
    svc = proc["serviceName"]
    has_res = (
        proc.isNotNull()
        & (F.coalesce(svc, F.lit("")) != NO_SERVICE_NAME)
        & ((F.coalesce(svc, F.lit("")) != "") | proc["tags"].isNotNull())
    )
    ptags = F.coalesce(proc["tags"], F.from_json(F.lit("[]"), f"array<{_TAG}>"))
    pents = F.transform(
        ptags, lambda t: F.struct(t["key"].alias("k"), _tag_value(t).alias("v"))
    )
    svc_ent = F.when(
        F.coalesce(svc, F.lit("")) != "",
        F.array(F.struct(F.lit("service.name").alias("k"), svc.alias("v"))),
    ).otherwise(F.from_json(F.lit("[]"), "array<struct<k:string,v:string>>"))
    res_raw = F.concat(svc_ent, pents)
    # translateHostnameAttr / translateJaegerVersionAttr (:155-172)
    has_hostname_conv = F.exists(res_raw, lambda e: e["k"] == "host.name")
    has_exp_ver = F.exists(
        res_raw, lambda e: e["k"] == "opencensus.exporterversion"
    )
    res_ents = F.transform(
        res_raw,
        lambda e: F.when(
            (e["k"] == "hostname") & ~has_hostname_conv,
            F.struct(F.lit("host.name").alias("k"), e["v"].alias("v")),
        )
        .when(
            (e["k"] == "jaeger.version") & ~has_exp_ver,
            F.struct(
                F.lit("opencensus.exporterversion").alias("k"),
                F.concat(F.lit("Jaeger-"), e["v"]).alias("v"),
            ),
        )
        .otherwise(e),
    )
    res_toks = F.when(
        has_res, F.transform(res_ents, lambda e: _tok(e["k"], e["v"]))
    ).otherwise(F.from_json(F.lit("[]"), "array<string>"))

    # ----- events (jLogsToSpanEvents :383-411) -----
    logs = F.coalesce(
        sp["logs"],
        F.from_json(
            F.lit("[]"), f"array<struct<timestamp:long,fields:array<{_TAG}>>>"
        ),
    )

    def _log_token(lg: Column) -> Column:
        name_tag = _find_tag(lg["fields"], "event")
        name = F.when(name_tag.isNotNull(), _tag_value(name_tag)).otherwise("")
        attr_toks = F.filter(
            _tag_tokens(lg["fields"]),
            lambda t: F.substring_index(t, "=", 1) != "event",
        )
        return F.concat_ws(
            "|",
            (F.coalesce(lg["timestamp"], F.lit(0)) * 1000).cast("string"),
            name,
            F.array_join(F.array_sort(attr_toks), ","),
        )

    events = F.transform(logs, _log_token)

    # ----- links (jReferencesToSpanLinks :414-430) -----
    is_parent_co = lambda r: (  # noqa: E731
        (u0(r["spanId"]) == parent_sid) & (r["refType"] == "CHILD_OF")
    )
    only_parent = (F.size(refs) == 1) & F.coalesce(
        is_parent_co(F.try_element_at(refs, F.lit(1))), F.lit(False)
    )
    link_toks = F.when(only_parent, F.from_json(F.lit("[]"), "array<string>")).otherwise(
        F.transform(
            F.filter(refs, lambda r: ~is_parent_co(r)),
            lambda r: F.concat_ws(
                "|",
                F.concat(
                    _u64hex(r["traceIdHigh"], 16), _u64hex(r["traceIdLow"], 16)
                ),
                _u64hex(r["spanId"], 16),
                F.concat(
                    F.lit("opentracing.ref_type="),
                    F.when(r["refType"] == "CHILD_OF", "child_of").otherwise(
                        "follows_from"
                    ),
                ),
            ),
        )
    )

    # ----- span attributes: tags minus consumed keys -----
    always_gone = ("otel.scope.name", "span.kind", "otel.status_code",
                   "w3c.tracestate")
    toks_raw = _tag_tokens(tags)

    def _keep(t: Column) -> Column:
        k = F.substring_index(t, "=", 1)
        c = ~k.isin(*always_gone)
        c = c & ~((k == "otel.scope.version") & has_scope_name)
        c = c & ~((k == "error") & err_true)
        c = c & ~((k == "otel.status_description") & desc_consumed)
        return c

    attr_toks = F.filter(toks_raw, _keep)

    start_us = F.coalesce(sp["startTime"], F.lit(0))
    staged = rows.select(
        "*",
        trace_id.alias("jg_trace_id"),
        span_id.alias("jg_span_id"),
        parent_id.alias("jg_parent_id"),
        F.coalesce(sp["operationName"], F.lit("")).alias("jg_name"),
        kind.alias("jg_kind"),
        (start_us * 1000).alias("jg_start_ns"),
        ((start_us + F.coalesce(sp["duration"], F.lit(0))) * 1000).alias(
            "jg_end_ns"
        ),
        status_code.alias("jg_status_code"),
        status_msg.alias("jg_status_msg"),
        F.when(
            tag_of("w3c.tracestate").isNotNull(), tval("w3c.tracestate")
        ).otherwise(F.lit("")).alias("jg_trace_state"),
        F.when(has_res, F.coalesce(svc, F.lit(""))).alias("jg_service"),
        scope_name.alias("jg_scope_name"),
        scope_version.alias("jg_scope_version"),
        res_toks.alias("_jg_res_toks"),
        attr_toks.alias("_jg_attr_toks"),
        F.array_join(events, ";").alias("jg_events"),
        F.array_join(link_toks, ";").alias("jg_links"),
        # a batch that fails from_json explodes to zero rows (the
        # receiver 400s the whole request, receiver.go:253-256); every
        # surviving span row is structurally valid
        F.lit(True).alias("jg_ok"),
    ).drop("_sp", "_bproc")
    return staged.select(
        "*",
        _canon(F.col("_jg_res_toks")).alias("jg_resource_attrs"),
        _canon(F.col("_jg_attr_toks")).alias("jg_attrs"),
    ).drop("_jg_res_toks", "_jg_attr_toks")
