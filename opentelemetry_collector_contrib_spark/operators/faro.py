"""Grafana Faro web-SDK payloads → log records.

Re-expresses ``pkg/translator/faro/faro_to_logs.go`` (:72-140) +
``keyval.go`` (:20-327) over a DataFrame of Faro payload JSON (one
payload per row — the reference's HTTP receiver feeds the same
translator). Each payload explodes into one row per log / exception /
measurement / event item (reference order), with the item's logfmt
body line, the ``kind`` attribute, the exception grouping hash, and
the resource attributes derived from ``meta.app``.

Pinned against the reference's OWN golden files
(``pkg/translator/faro/testdata/standard-payload/plogs.yaml`` etc.) in
``tests/test_round5_faro.py``:

- body = logfmt of the item key-vals followed by the meta key-vals
  (``mergeKeyVal(item, meta)``), values quoted per go-logfmt (space /
  '=' / '"' / control chars) with \\" \\\\ \\n \\t \\r escapes;
- timestamps re-format as RFC3339 with trailing-zero-trimmed
  milliseconds (Go's ``.999`` layout: ``.680`` → ``.68``, ``.000`` →
  dropped);
- measurements render their values twice, sorted: bare keys with %f
  (six decimals) and ``value_``-prefixed keys with the shortest float
  form (whole doubles lose the fraction);
- exceptions carry ``stacktrace="Type: Value\\n  at fn (mod|file:l:c)"``
  and a grouping hash of the DRAIN-normalized value (six normalizer
  regexes, faro_to_logs.go:30-68);
- string key-vals are skipped when empty (keyValAdd), floats are not;
- ``meta.app`` → resource: service.name/version/deployment.environment
  always, service.namespace and app_bundle_id only when non-empty.

Divergences (documented): the exception hash uses Spark's xxhash64
instead of xxh3 (not available JVM-side) — grouping semantics are
identical, hash VALUES differ, so the drained value itself is also
emitted; float rendering for the ``value_`` form uses fixed notation
(Go 'g' switches to exponent beyond ~1e21); duplicate keys between an
item and meta would append rather than overwrite-in-place (the
reference's ordered-map Set; no Faro SDK payload produces such a
collision); ``meta.geo`` and the browser brands-array form are carried
verbatim only as far as the fixture exercises them.

Plan: one zero-shuffle from_json projection + one explode. No Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACE = "trace struct<trace_id:string,span_id:string>"
_ACTION = "action struct<id:string,name:string,parentId:string>"

_FARO_SCHEMA = (
    "meta struct<"
    " sdk struct<name:string,version:string,"
    "integrations:array<struct<name:string,version:string>>>,"
    " app struct<name:string,namespace:string,release:string,"
    "version:string,environment:string,bundleId:string>,"
    " user struct<email:string,id:string,username:string,"
    "attributes:map<string,string>>,"
    " session struct<id:string,attributes:map<string,string>>,"
    " page struct<id:string,url:string,attributes:map<string,string>>,"
    " browser struct<name:string,version:string,os:string,mobile:boolean,"
    "userAgent:string,language:string,viewportWidth:string,"
    "viewportHeight:string>,"
    " view struct<name:string>,"
    " k6 struct<isK6Browser:boolean>>,"
    f"logs array<struct<message:string,level:string,"
    f"context:map<string,string>,timestamp:string,{_TRACE},{_ACTION}>>,"
    f"exceptions array<struct<type:string,value:string,timestamp:string,"
    f"context:map<string,string>,stacktrace:struct<frames:array<struct<"
    f"function:string,module:string,filename:string,lineno:long,"
    f"colno:long>>>,{_TRACE},{_ACTION}>>,"
    f"measurements array<struct<type:string,values:map<string,double>,"
    f"timestamp:string,context:map<string,string>,{_TRACE},{_ACTION}>>,"
    f"events array<struct<name:string,domain:string,"
    f"attributes:map<string,string>,timestamp:string,{_TRACE},{_ACTION}>>"
)

# faro_to_logs.go:30-38 (ported verbatim; Java regex)
_DRAIN_STEPS: tuple[tuple[str, str], ...] = (
    (r"Cannot read (property|properties) '([^']+)'",
     "Cannot read $1 '<PROPERTY>'"),
    (r"Cannot read (property|properties) '<PROPERTY>' of",
     "Cannot read $1 '<PROPERTY>' of"),
    (r'https?://[^\s<>"{}|\\^`\[\]]+', "<URL>"),
    (r"0x[0-9a-fA-F]+", "<ADDRESS>"),
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
     "<UUID>"),
    (r"\b(id|ID|Id)\s*[:\s=]\s*\d+\b", "$1 <ID>"),
    (r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}", "<TIMESTAMP>"),
    (r"(?:[A-Za-z]:)?[/\\][\w\-._/\\]+\.(js|ts|jsx|tsx|css|html)\b",
     "<PATH>"),
)


def drain_exception_value(value: Column) -> Column:
    """drainExceptionValue (faro_to_logs.go:43-68): normalize
    instance-specific identifiers for exception grouping. The method
    chain mirrors the Go replacement order (property → URL → address →
    UUID → numeric id → timestamp → path; the second Go regex is a
    no-op after the first and kept for order parity)."""
    out = value
    for pat, rep in _DRAIN_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def _logfmt_value(v: Column) -> Column:
    """go-logfmt value encoding: quote when the value contains a
    space, '=', '"' or a control char; escape backslash, quote, and
    \\n \\t \\r inside quotes."""
    esc = F.replace(v, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit('"'), F.lit('\\"'))
    esc = F.replace(esc, F.lit("\n"), F.lit("\\n"))
    esc = F.replace(esc, F.lit("\t"), F.lit("\\t"))
    esc = F.replace(esc, F.lit("\r"), F.lit("\\r"))
    needs = v.rlike('[ ="\\x00-\\x1f]') | (v == "")
    return F.when(needs, F.concat(F.lit('"'), esc, F.lit('"'))).otherwise(v)


def _kv(key: str | Column, value: Column) -> Column:
    """keyValAdd (keyval.go:59-63): emit ``key=value`` only when the
    value is a non-empty string."""
    k = F.lit(key) if isinstance(key, str) else key
    return F.when(
        value.isNotNull() & (value != ""),
        F.concat(k, F.lit("="), _logfmt_value(value)),
    )


def _rfc3339_milli(ts_str: Column) -> Column:
    """Go RFC3339Milli (.999 trims trailing zeros; UTC inputs)."""
    t = F.to_timestamp(ts_str)
    s = F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss.SSS")
    s = F.regexp_replace(s, r"(\.\d*?)0+$", "$1")
    s = F.regexp_replace(s, r"\.$", "")
    return F.when(t.isNotNull(), F.concat(s, F.lit("Z")))


def _shortest_double(v: Column) -> Column:
    """logfmt float rendering (strconv shortest): whole doubles drop
    the fraction."""
    return F.when(
        v == F.floor(v), v.cast("long").cast("string")
    ).otherwise(v.cast("string"))


def _sorted_map_kvs(m: Column, prefix: str = "") -> Column:
    """keyValFromMap (keyval.go:26-32): sorted keys, empty values
    skipped, optional key prefix."""
    ents = F.array_sort(
        F.transform(
            F.map_entries(F.coalesce(m, F.from_json(F.lit("{}"), "map<string,string>"))),
            lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
        )
    )
    return F.filter(
        F.transform(
            ents, lambda e: _kv(F.concat(F.lit(prefix), e["key"]), e["value"])
        ),
        lambda x: x.isNotNull(),
    )


def _trace_kvs(tr: Column) -> list[Column]:
    return [_kv("traceID", tr["trace_id"]), _kv("spanID", tr["span_id"])]


def _action_kvs(a: Column) -> list[Column]:
    return [
        _kv("action_id", a["id"]),
        _kv("action_name", a["name"]),
        _kv("action_parent_id", a["parentId"]),
    ]


def _brand_tokens(payload: Column) -> Column:
    """browserToKeyVal brands (keyval.go:275-289): an array of
    {brand, version} renders as indexed ``browser_brand_<i>_brand`` /
    ``_version`` pairs; a plain string renders as ``browser_brands``."""
    bv = F.try_variant_get(
        F.try_parse_json(payload), "$.meta.browser.brands", "variant"
    )
    btype = F.schema_of_variant(bv)
    arr = F.when(
        btype.startswith("ARRAY"),
        F.from_json(
            F.to_json(bv), "array<struct<brand:string,version:string>>"
        ),
    )
    as_string = F.when(
        btype == "STRING", F.try_variant_get(bv, "$", "string")
    )
    arr_toks = F.flatten(
        F.transform(
            F.coalesce(
                arr,
                F.expr("array()").cast(
                    "array<struct<brand:string,version:string>>"
                ),
            ),
            lambda b, i: F.filter(
                F.array(
                    _kv(
                        F.concat(
                            F.lit("browser_brand_"), i.cast("string"),
                            F.lit("_brand"),
                        ),
                        b["brand"],
                    ),
                    _kv(
                        F.concat(
                            F.lit("browser_brand_"), i.cast("string"),
                            F.lit("_version"),
                        ),
                        b["version"],
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    str_tok = F.filter(
        F.array(_kv("browser_brands", as_string)), lambda x: x.isNotNull()
    )
    return F.when(arr.isNotNull(), arr_toks).otherwise(str_tok)


def _meta_tokens(meta: Column, payload: Column) -> Column:
    """metaToKeyVal (keyval.go:189-203): sdk → app → user → session →
    page → browser → k6 → view (geo carried only when present in the
    schema)."""
    sdk, app, user = meta["sdk"], meta["app"], meta["user"]
    sess, page, br = meta["session"], meta["page"], meta["browser"]
    integrations = F.when(
        F.size(sdk["integrations"]) > 0,
        F.array_join(
            F.transform(
                sdk["integrations"],
                lambda i: F.concat(i["name"], F.lit(":"), i["version"]),
            ),
            ",",
        ),
    )
    fixed = F.array(
        _kv("sdk_name", sdk["name"]),
        _kv("sdk_version", sdk["version"]),
        _kv("sdk_integrations", integrations),
        _kv("app_name", app["name"]),
        _kv("app_namespace", app["namespace"]),
        _kv("app_release", app["release"]),
        _kv("app_version", app["version"]),
        _kv("app_environment", app["environment"]),
        _kv("user_email", user["email"]),
        _kv("user_id", user["id"]),
        _kv("user_username", user["username"]),
    )
    tail = F.array(
        _kv("session_id", sess["id"]),
    )
    page_fixed = F.array(_kv("page_id", page["id"]), _kv("page_url", page["url"]))
    browser = F.array(
        _kv("browser_name", br["name"]),
        _kv("browser_version", br["version"]),
        _kv("browser_os", br["os"]),
        _kv(
            "browser_mobile",
            F.when(br.isNotNull(), F.coalesce(br["mobile"], F.lit(False)).cast("string")),
        ),
        _kv("browser_userAgent", br["userAgent"]),
        _kv("browser_language", br["language"]),
        _kv("browser_viewportWidth", br["viewportWidth"]),
        _kv("browser_viewportHeight", br["viewportHeight"]),
    )
    trailer = F.array(
        _kv(
            "k6_isK6Browser",
            F.when(meta["k6"]["isK6Browser"], F.lit("true")),
        ),
        _kv("view_name", meta["view"]["name"]),
    )
    toks = F.concat(
        F.filter(fixed, lambda x: x.isNotNull()),
        _sorted_map_kvs(user["attributes"], "user_attr_"),
        F.filter(tail, lambda x: x.isNotNull()),
        _sorted_map_kvs(sess["attributes"], "session_attr_"),
        F.filter(page_fixed, lambda x: x.isNotNull()),
        _sorted_map_kvs(page["attributes"], "page_attr_"),
        F.filter(browser, lambda x: x.isNotNull()),
        _brand_tokens(payload),
        F.filter(trailer, lambda x: x.isNotNull()),
    )
    return toks


def faro_to_logs(df: DataFrame) -> DataFrame:
    """One Faro payload JSON per row → exploded log-record rows with
    ``fr_body`` (logfmt line), ``fr_kind``, ``fr_hash`` /
    ``fr_drained`` (exceptions), ``fr_resource_attrs``, ``fr_ok``.

    The ``from_json`` of the full payload schema is STAGED as its own
    column: four consumers (parsed flag, meta tokens, resource attrs,
    the item explode) would otherwise re-inline — and re-evaluate —
    the parse per reference (the awslogs staging rule, PLANS.md;
    measured ~6x here)."""
    df = df.select(
        "*", F.from_json(F.col("body"), _FARO_SCHEMA).alias("_fr_p")
    )
    p = F.col("_fr_p")
    meta = p["meta"]
    app = meta["app"]

    def item(kind: str, ts: Column, toks: list[Column],
             ctx_toks: Column | None = None, drained: Column = None):
        """Assemble one item's ordered token array into a struct."""
        arr = F.filter(F.array(*toks), lambda x: x.isNotNull())
        if ctx_toks is not None:
            arr = F.concat(arr, ctx_toks)
        return F.struct(
            F.lit(kind).alias("kind"),
            arr.alias("toks"),
            (drained if drained is not None else F.lit(None).cast("string")
             ).alias("drained"),
        )

    # ----- logs (keyval.go:78-96) -----
    def log_item(l: Column) -> Column:
        level = F.coalesce(
            F.when(l["level"] != "", l["level"]), F.lit("info")
        )
        head = [
            _kv("timestamp", _rfc3339_milli(l["timestamp"])),
            _kv("kind", F.lit("log")),
            _kv("level", level),
            _kv("message", l["message"]),
        ]
        ctx = F.concat(
            _sorted_map_kvs(l["context"], "context_"),
            F.filter(
                F.array(*_trace_kvs(l["trace"]), *_action_kvs(l["action"])),
                lambda x: x.isNotNull(),
            ),
        )
        return item("log", l["timestamp"], head, ctx)

    # ----- exceptions (keyval.go:99-112,114-135) -----
    def exc_item(e: Column) -> Column:
        frames = F.coalesce(
            e["stacktrace"]["frames"],
            F.expr(
                "array()"
            ).cast(
                "array<struct<function:string,module:string,"
                "filename:string,lineno:bigint,colno:bigint>>"
            ),
        )
        stack = F.concat(
            e["type"], F.lit(": "), e["value"],
            F.array_join(
                F.transform(
                    frames,
                    lambda fr: F.concat(
                        F.lit("\n  at "),
                        F.coalesce(fr["function"], F.lit("")),
                        F.lit(" ("),
                        F.when(
                            fr["module"].isNotNull() & (fr["module"] != ""),
                            F.concat(fr["module"], F.lit("|")),
                        ).otherwise(F.lit("")),
                        F.coalesce(fr["filename"], F.lit("")),
                        F.lit(":"),
                        F.coalesce(fr["lineno"], F.lit(0)).cast("string"),
                        F.lit(":"),
                        F.coalesce(fr["colno"], F.lit(0)).cast("string"),
                        F.lit(")"),
                    ),
                ),
                "",
            ),
        )
        head = [
            _kv("timestamp", _rfc3339_milli(e["timestamp"])),
            _kv("kind", F.lit("exception")),
            _kv("level", F.lit("error")),
            _kv("type", e["type"]),
            _kv("value", e["value"]),
            _kv("stacktrace", stack),
        ]
        ctx = F.concat(
            F.filter(F.array(*_trace_kvs(e["trace"])), lambda x: x.isNotNull()),
            _sorted_map_kvs(e["context"], "context_"),
            F.filter(F.array(*_action_kvs(e["action"])), lambda x: x.isNotNull()),
        )
        return item(
            "exception", e["timestamp"], head, ctx,
            drained=drain_exception_value(e["value"]),
        )

    # ----- measurements (keyval.go:137-160) -----
    def mes_item(m: Column) -> Column:
        vals = F.array_sort(
            F.transform(
                F.map_entries(
                    F.coalesce(
                        m["values"],
                        F.from_json(F.lit("{}"), "map<string,double>"),
                    )
                ),
                lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
            )
        )
        raw = F.transform(
            vals,
            lambda e: F.concat(
                e["key"], F.lit("="),
                _logfmt_value(F.format_string("%f", e["value"])),
            ),
        )
        prefixed = F.transform(
            vals,
            lambda e: F.concat(
                F.lit("value_"), e["key"], F.lit("="),
                _logfmt_value(_shortest_double(e["value"])),
            ),
        )
        head = [
            _kv("timestamp", _rfc3339_milli(m["timestamp"])),
            _kv("kind", F.lit("measurement")),
            _kv("level", F.lit("info")),
            _kv("type", m["type"]),
        ]
        ctx = F.concat(
            _sorted_map_kvs(m["context"], "context_"),
            raw,
            F.filter(F.array(*_trace_kvs(m["trace"])), lambda x: x.isNotNull()),
            prefixed,
            F.filter(F.array(*_action_kvs(m["action"])), lambda x: x.isNotNull()),
        )
        return item("measurement", m["timestamp"], head, ctx)

    # ----- events (keyval.go:163-177) -----
    def ev_item(e: Column) -> Column:
        head = [
            _kv("timestamp", _rfc3339_milli(e["timestamp"])),
            _kv("kind", F.lit("event")),
            _kv("level", F.lit("info")),
            _kv("event_name", e["name"]),
            _kv("event_domain", e["domain"]),
        ]
        ctx = F.concat(
            _sorted_map_kvs(e["attributes"], "event_data_"),
            F.filter(
                F.array(*_action_kvs(e["action"]), *_trace_kvs(e["trace"])),
                lambda x: x.isNotNull(),
            ),
        )
        return item("event", e["timestamp"], head, ctx)

    empty = F.expr("array()").cast(
        "array<struct<kind:string,toks:array<string>,drained:string>>"
    )
    items = F.concat(
        F.coalesce(F.transform(p["logs"], log_item), empty),
        F.coalesce(F.transform(p["exceptions"], exc_item), empty),
        F.coalesce(F.transform(p["measurements"], mes_item), empty),
        F.coalesce(F.transform(p["events"], ev_item), empty),
    )

    res_toks = F.filter(
        F.array(
            F.concat(F.lit("service.name="), F.coalesce(app["name"], F.lit(""))),
            F.concat(
                F.lit("service.version="), F.coalesce(app["version"], F.lit(""))
            ),
            F.concat(
                F.lit("deployment.environment="),
                F.coalesce(app["environment"], F.lit("")),
            ),
            F.when(
                app["namespace"].isNotNull() & (app["namespace"] != ""),
                F.concat(F.lit("service.namespace="), app["namespace"]),
            ),
            F.when(
                app["bundleId"].isNotNull() & (app["bundleId"] != ""),
                F.concat(F.lit("app_bundle_id="), app["bundleId"]),
            ),
        ),
        lambda x: x.isNotNull(),
    )

    staged = df.select(
        "*",
        p.isNotNull().alias("_fr_parsed"),
        _meta_tokens(meta, F.col("body")).alias("_fr_meta"),
        F.array_join(res_toks, ",").alias("fr_resource_attrs"),
        F.explode(items).alias("_fr_item"),
    )
    it = F.col("_fr_item")
    line = F.array_join(F.concat(it["toks"], F.col("_fr_meta")), " ")
    # go-logfmt rejects keys containing space/'='/'"' — the reference
    # skips such records (faro_to_logs.go:128-133)
    bad_key = F.exists(
        F.concat(it["toks"], F.col("_fr_meta")),
        lambda t: F.substring_index(t, "=", 1).rlike('[ "\\x00-\\x1f]'),
    )
    return staged.select(
        "*",
        it["kind"].alias("fr_kind"),
        line.alias("fr_body"),
        it["drained"].alias("fr_drained"),
        F.when(
            it["drained"].isNotNull(), F.xxhash64(it["drained"]).cast("string")
        ).alias("fr_hash"),
        (F.col("_fr_parsed") & ~bad_key).alias("fr_ok"),
    ).drop("_fr_item", "_fr_meta", "_fr_parsed", "_fr_p")
