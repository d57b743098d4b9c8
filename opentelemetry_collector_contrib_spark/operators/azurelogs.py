"""azurelogs translator: the NEXT-GEN Azure resource-log semconv
mapping (``pkg/translator/azurelogs``; the older ``pkg/translator/
azure`` envelope is ``receivers.py::azure_resource_logs_parse``).

Re-expresses, vectorized (from_json + explode + Column algebra, zero
Python):

- envelope + severity + skip    — resourcelogs_to_logs.go:86-160
  (records fan-out, time-else-timeStamp ISO8601 with skip-on-
  unparsable, Level word table Informational/Warning/Error/Critical →
  9/13/17/21 else positive-int passthrough, resource identity =
  resourceId with cloud.provider=azure / cloud.resource_id /
  event.name=az.resource.log, scope otelcol/azureresourcelogs)
- category dispatch             — category_logs.go:82-119
  (three categories have full semconv handlers in the reference:
  AzureCdnAccessLog, FrontDoorAccessLog,
  FrontDoorWebApplicationFirewallLog; every other category —
  errStillToImplement / errUnsupportedCategory — falls back to the
  raw-attribute BODY of extractRawAttributes)
- typed field helpers           — category_logs.go:123-157
  (putInt REQUIRED-int semantics: a missing or unparsable value fails
  the whole record; putStr skips ""/"N/A"; handleTime = ParseFloat ×
  1e3 truncated to int64)
- requestUri fan                — category_logs.go:186-210
  (url.original always, url.port/scheme/path/query/fragment when
  non-empty; this engine re-expresses url.Parse for the
  scheme://host[:port]/path[?q][#f] and relative grammars)
- securityProtocol / destination / errorInfo
                                — category_logs.go:213-289
  ("<name> <version>" exactly-two-token split; SplitHostPort with the
  missing-port fallback, backendHostname-else-endpoint precedence and
  the network.peer overflow pair; errorInfo/ErrorInfo equality guard
  (case-sensitive JSON lookups) with the NoError suppression)
- failed records                — resourcelogs_to_logs.go:137-147
  (a category handler error logs and leaves the record with
  timestamp/severity but NO attributes and NO body; surfaced here as
  ``az2_err``)
- raw fallback body             — resourcelogs_to_logs.go:188-216 +
  property_names.go (common-schema fields; per-category property →
  semconv hand-off for FrontDoorHealthProbeLog and the seven
  AppService categories, leftovers under ``properties``; the
  FrontDoorAccessLog handler in property_names.go is unreachable in
  the reference — its category never reaches the fallback — and is
  deliberately not mirrored)

Model notes: attribute identity is the repo-standard canonical sorted
``k=v,...`` string; non-string JSON property scalars reach the
fallback hand-off as their JSON text (matching Go's toInt/toFloat
string parsing for the numeric paths); int64(f × 1e3) truncation is
preserved (DuckDB oracles must trunc(), not round).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .receivers import _canon_attrs

SCOPE_NAME = "otelcol/azureresourcelogs"

CAT_CDN = "AzureCdnAccessLog"
CAT_FD_ACCESS = "FrontDoorAccessLog"
CAT_FD_WAF = "FrontDoorWebApplicationFirewallLog"

# resourcelogs_to_logs.go:197-214 — asSeverity word table
_SEV_WORDS = {"Informational": 9, "Warning": 13, "Error": 17,
              "Critical": 21}

_AZ_REC = (
    "array<struct<time:string,timeStamp:string,resourceId:string,"
    "tenantId:string,operationName:string,operationVersion:string,"
    "category:string,resultType:string,resultSignature:string,"
    "resultDescription:string,durationMs:string,callerIpAddress:string,"
    "correlationId:string,Level:string,location:string,"
    "properties:variant,identity:variant>>"
)

# property_names.go fallback hand-offs: category -> {field: (attr, kind)}
# kinds: s=str passthrough, i=toInt (string on failure), l=toLower,
# ms=float/1e3 seconds (drop on parse failure), us=float/1e6 seconds,
# p=protocol "name/version" two-token split (two attrs, drop if bad)
FALLBACK_MAPS: dict[str, dict[str, tuple[str, str]]] = {
    "FrontDoorHealthProbeLog": {
        "httpVerb": ("http.request.method", "s"),
        "httpStatusCode": ("http.response.status_code", "i"),
        "probeURL": ("url.full", "s"),
        "originIP": ("server.address", "s"),
        "DNSLatencyMicroseconds": ("dns.lookup.duration", "us"),
        "totalLatencyMilliseconds": ("http.request.duration", "ms"),
    },
    "AppServiceAppLogs": {
        "ContainerId": ("container.id", "s"),
        "ExceptionClass": ("exception.type", "s"),
        "Host": ("host.id", "s"),
        "Method": ("code.function", "s"),
        "Source": ("code.filepath", "s"),
        "Stacktrace": ("exception.stacktrace", "s"),
        "StackTrace": ("exception.stacktrace", "s"),
    },
    "AppServiceAuditLogs": {
        "Protocol": ("network.protocol.name", "l"),
        "User": ("enduser.id", "s"),
        "UserAddress": ("client.address", "s"),
    },
    "AppServiceAuthenticationLogs": {
        "StatusCode": ("http.response.status_code", "i"),
    },
    "AppServiceConsoleLogs": {
        "ContainerId": ("container.id", "s"),
        "Host": ("host.id", "s"),
    },
    "AppServiceHTTPLogs": {
        "CIp": ("client.address", "s"),
        "ComputerName": ("host.name", "s"),
        "CsBytes": ("http.request.body.size", "i"),
        "CsHost": ("url.domain", "s"),
        "CsMethod": ("http.request.method", "s"),
        "CsUriQuery": ("url.query", "s"),
        "CsUriStem": ("url.path", "s"),
        "Referer": ("http.request.header.referer", "s"),
        "ScBytes": ("http.response.body.size", "i"),
        "ScStatus": ("http.response.status_code", "i"),
        "SPort": ("server.port", "i"),
        "TimeTaken": ("http.server.request.duration", "ms"),
        "UserAgent": ("user_agent.original", "s"),
        "Protocol": ("network.protocol.name", "p"),
    },
    "AppServiceIPSecAuditLogs": {
        "CIp": ("client.address", "s"),
        "CsHost": ("url.domain", "s"),
        "XAzureFDID": ("http.request.header.x-azure-fdid", "s"),
        "XFDHealthProbe": ("http.request.header.x-fd-healthprobe", "s"),
        "XForwardedFor": ("http.request.header.x-forwarded-for", "s"),
        "XForwardedHost": ("http.request.header.x-forwarded-host", "s"),
    },
    "AppServicePlatformLogs": {
        "containerId": ("container.id", "s"),
        "containerName": ("container.name", "s"),
        "exception": ("error.type", "s"),
    },
}


def _tok(key: str, v: Column) -> Column:
    return F.concat(F.lit(key + "="), v)


def _put_str(key: str, v: Column) -> Column:
    """putStr (category_logs.go:135-143): skip empty and N/A."""
    v = F.coalesce(v, F.lit(""))
    return F.when(~v.isin("", "N/A"), _tok(key, v))


def _put_int(key: str, v: Column) -> tuple[Column, Column]:
    """putInt (category_logs.go:124-131): REQUIRED int — returns
    (token, error) where error fires on missing/unparsable."""
    n = v.try_cast("long")
    return (F.when(n.isNotNull(), _tok(key, n.cast("string"))),
            n.isNull())


def _handle_time(key: str, v: Column) -> tuple[Column, Column]:
    """handleTime (category_logs.go:147-157): ParseFloat × 1e3,
    int64-truncated."""
    f = v.try_cast("double")
    n = (f * 1000).cast("long")  # Spark double->long truncates like Go
    return (F.when(f.isNotNull(), _tok(key, n.cast("string"))),
            f.isNull())


def _uri_tokens(uri: Column) -> Column:
    """addRequestURIProperties (category_logs.go:186-210) for the
    scheme://host[:port]/path[?q][#f] and relative grammars."""
    uri = F.coalesce(uri, F.lit(""))
    scheme = F.regexp_extract(uri, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    port = F.regexp_extract(
        uri, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*:([0-9]+)", 1)
    after_auth = F.when(
        scheme != "",
        F.regexp_extract(
            uri, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1),
    ).otherwise(F.regexp_extract(uri, r"^([^?#]*)", 1))
    query = F.regexp_extract(uri, r"\?([^#]*)", 1)
    frag = F.regexp_extract(uri, r"#(.*)$", 1)
    return F.when(uri != "", F.filter(F.array(
        _tok("url.original", uri),
        F.when(port != "", _tok("url.port", port)),
        F.when(scheme != "", _tok("url.scheme", scheme)),
        F.when(after_auth != "", _tok("url.path", after_auth)),
        F.when(query != "", _tok("url.query", query)),
        F.when(frag != "", _tok("url.fragment", frag)),
    ), lambda t: t.isNotNull())).otherwise(
        F.array().cast("array<string>"))


def _security_protocol(sp: Column) -> tuple[Column, Column]:
    """addSecurityProtocolProperties (category_logs.go:213-233):
    exactly "<name> <version>" — returns (tokens, error)."""
    sp = F.coalesce(sp, F.lit(""))
    parts = F.split(sp, " ")
    ok = (F.size(parts) == 2) & (parts[0] != "") & (parts[1] != "")
    toks = F.when(
        (sp != "") & ok,
        F.array(_tok("tls.protocol.name", parts[0]),
                _tok("tls.protocol.version", parts[1])),
    ).otherwise(F.array().cast("array<string>"))
    return toks, (sp != "") & ~ok


def _host_port_tokens(full: Column, addr_key: str,
                      port_key: str) -> tuple[Column, Column]:
    """net.SplitHostPort with the missing-port fallback
    (category_logs.go:237-260)."""
    has_port = full.contains(":")
    host = F.when(has_port, F.substring_index(full, ":", 1)).otherwise(full)
    port = F.when(has_port, F.substring_index(full, ":", -1)).otherwise(
        F.lit(""))
    port_n = port.try_cast("long")
    toks = F.filter(F.array(
        F.when(host != "", _tok(addr_key, host)),
        F.when(port != "", _tok(port_key, port_n.cast("string"))),
    ), lambda t: t.isNotNull())
    return toks, has_port & port_n.isNull()


def _destination_tokens(backend: Column,
                        endpoint: Column) -> tuple[Column, Column]:
    """handleDestination (category_logs.go:237-289)."""
    backend = F.coalesce(backend, F.lit(""))
    endpoint = F.coalesce(endpoint, F.lit(""))
    ep_dest, ep_dest_err = _host_port_tokens(
        endpoint, "destination.address", "destination.port")
    be_dest, be_dest_err = _host_port_tokens(
        backend, "destination.address", "destination.port")
    ep_peer, ep_peer_err = _host_port_tokens(
        endpoint, "network.peer.address", "network.peer.port")
    empty = F.array().cast("array<string>")
    peer_applies = (endpoint != backend) & (endpoint != "")
    toks = (
        F.when(backend == "",
               F.when(endpoint == "", empty).otherwise(ep_dest))
        .otherwise(F.concat(
            be_dest, F.when(peer_applies, ep_peer).otherwise(empty)))
    )
    err = (
        F.when(backend == "",
               F.when(endpoint == "", F.lit(False)).otherwise(ep_dest_err))
        .otherwise(be_dest_err | (peer_applies & ep_peer_err))
    )
    return toks, err


def _error_info_tokens(props_json: Column) -> tuple[Column, Column]:
    """errorInfo/ErrorInfo guard + NoError suppression
    (category_logs.go:283-289 + addErrorInfoProperties). JSON paths
    are case-sensitive — the two fields are distinct."""
    ei = F.coalesce(F.get_json_object(props_json, "$.errorInfo"),
                    F.lit(""))
    ei1 = F.coalesce(F.get_json_object(props_json, "$.ErrorInfo"),
                     F.lit(""))
    err = (ei != ei1) & (ei != "") & (ei1 != "")
    chosen = F.when(ei1 != "", ei1).otherwise(ei)
    tok = F.when((chosen != "") & (chosen != "NoError"),
                 _tok("exception.type", chosen))
    return tok, err


def _access_log_tokens(p: Column, props_json: Column,
                       is_cdn: bool) -> tuple[Column, Column]:
    """addAzureCdnAccessLogProperties / addFrontDoorAccessLogProperties
    (category_logs.go:293-466) — the two share their core."""
    errs: list[Column] = []
    toks: list[Column] = []

    for key, field in (("http.request.size", "requestBytes"),
                       ("http.response.size", "responseBytes"),
                       ("client.port", "clientPort"),
                       ("http.response.status_code", "httpStatusCode")):
        t, e = _put_int(key, p[field])
        toks.append(t)
        errs.append(e)
    t, e = _handle_time("azure.time_to_first_byte", p["timeToFirstByte"])
    toks.append(t)
    errs.append(e)
    t, e = _handle_time("duration", p["timeTaken"])
    toks.append(t)
    errs.append(e)

    uri_toks = _uri_tokens(p["requestUri"])
    sec_toks, sec_err = _security_protocol(p["securityProtocol"])
    errs.append(sec_err)
    if is_cdn:
        dest_toks, dest_err = _destination_tokens(
            p["backendHostname"], p["endpoint"])
    else:
        dest_toks, dest_err = _destination_tokens(
            p["hostName"], p["endpoint"])
    errs.append(dest_err)
    ei_tok, ei_err = _error_info_tokens(props_json)
    toks.append(ei_tok)
    errs.append(ei_err)

    toks += [
        _put_str("azure.ref", p["trackingReference"]),
        _put_str("http.request.method", p["httpMethod"]),
        _put_str("network.protocol.version", p["httpVersion"]),
        _put_str("network.protocol.name", p["requestProtocol"]),
        _put_str("tls.server.name", p["sni"]),
        _put_str("user_agent.original", p["userAgent"]),
        _put_str("client.address", p["clientIp"]),
        _put_str("source.address", p["socketIp"]),
        _put_str("azure.pop", p["pop"]),
        _put_str("azure.cache_status", p["cacheStatus"]),
    ]
    if is_cdn:
        recv = F.coalesce(
            F.get_json_object(props_json, "$.isReceivedFromClient")
            .try_cast("boolean"), F.lit(False))
        toks.append(_tok("network.io.direction",
                         F.when(recv, F.lit("receive"))
                         .otherwise(F.lit("transmit"))))
    else:
        origin = F.coalesce(p["originIp"], F.lit(""))
        o_host = F.substring_index(origin, ":", 1)
        o_port = F.when(origin.contains(":"),
                        F.substring_index(origin, ":", -1))
        o_port_n = o_port.try_cast("long")
        origin_ok = ~origin.isin("", "N/A")
        toks.append(F.when(origin_ok & (o_host != ""),
                           _tok("server.address", o_host)))
        toks.append(F.when(origin_ok & o_port.isNotNull(),
                           _tok("server.port", o_port_n.cast("string"))))
        errs.append(origin_ok & o_port.isNotNull() & o_port_n.isNull())
        toks.append(_put_str("tls.curve", p["securityCurves"]))
        toks.append(_put_str("tls.cipher", p["securityCipher"]))

    all_toks = F.concat(
        F.filter(F.array(*toks), lambda t: t.isNotNull()),
        uri_toks, sec_toks, dest_toks)
    err = None
    for e in errs:
        err = e if err is None else (err | e)
    return all_toks, err


def _waf_log_tokens(p: Column) -> tuple[Column, Column]:
    """addFrontDoorWAFLogProperties (category_logs.go:485-521)."""
    port_tok, port_err = _put_int("client.port", p["clientPort"])
    toks = F.concat(
        F.filter(F.array(
            port_tok,
            _put_str("client.address", p["clientIP"]),
            _put_str("source.address", p["socketIP"]),
            _put_str("azure.ref", p["trackingReference"]),
            _put_str("http.request.header.host", p["host"]),
            _put_str("azure.frontdoor.waf.policy.name", p["policy"]),
            _put_str("azure.frontdoor.waf.policy.mode", p["policyMode"]),
            _put_str("azure.frontdoor.waf.rule.name", p["ruleName"]),
            _put_str("azure.frontdoor.waf.action", p["action"]),
        ), lambda t: t.isNotNull()),
        _uri_tokens(p["requestUri"]))
    return toks, port_err


def _common_schema_tokens(r: Column) -> Column:
    """addCommonSchema (resourcelogs_to_logs.go:224-230)."""
    return F.filter(F.array(
        _tok("azure.category", F.coalesce(r["category"], F.lit(""))),
        _put_str("azure.correlation_id", r["correlationId"]),
        _tok("azure.operation.name",
             F.coalesce(r["operationName"], F.lit(""))),
        _put_str("azure.operation.version", r["operationVersion"]),
    ), lambda t: t.isNotNull())


def _fallback_body_tokens(r: Column, props: Column,
                          ident: Column, cat: Column) -> Column:
    """extractRawAttributes (resourcelogs_to_logs.go:233-262) +
    the property_names.go per-category hand-off.  ``props`` must be a
    STAGED ``map<string,string>`` column — the ~60 ``element_at``
    readers across the category branches would otherwise re-inline
    (and re-evaluate) the JSON map parse per reference (the awslogs
    staging rule, PLANS.md)."""
    dur = r["durationMs"].try_cast("long")
    var_json = F.when(
        F.schema_of_variant(ident) == "STRING",
        F.try_variant_get(ident, "$", "string"),
    ).otherwise(F.to_json(ident))

    def opt(key: str, v: Column) -> Column:
        v = F.coalesce(v, F.lit(""))
        return F.when(v != "", _tok(key, v))

    base = F.filter(F.array(
        _tok("category", F.coalesce(r["category"], F.lit(""))),
        opt("correlation.id", r["correlationId"]),
        F.when(r["durationMs"].isNotNull() & dur.isNotNull(),
               _tok("duration", dur.cast("string"))),
        F.when(ident.isNotNull(), _tok("identity", var_json)),
        _tok("operation.name", F.coalesce(r["operationName"], F.lit(""))),
        opt("operation.version", r["operationVersion"]),
        opt("result.description", r["resultDescription"]),
        opt("result.signature", r["resultSignature"]),
        opt("result.type", r["resultType"]),
        opt("tenant.id", r["tenantId"]),
        opt("cloud.region", r["location"]),
        opt("network.peer.address", r["callerIpAddress"]),
    ), lambda t: t.isNotNull())

    has_props = props.isNotNull() & (F.size(props) > 0)

    # per-category hand-off: mapped fields -> top-level attrs (with the
    # kind conversions), the rest stays under `properties`
    branches = []
    for category, mapping in FALLBACK_MAPS.items():
        mapped_toks: list[Column] = []
        for field, (attr, kind) in mapping.items():
            v = F.element_at(props, F.lit(field))
            present = v.isNotNull()
            if kind == "s":
                mapped_toks.append(F.when(present, _tok(attr, v)))
            elif kind == "l":
                mapped_toks.append(F.when(present, _tok(attr, F.lower(v))))
            elif kind == "i":
                n = v.try_cast("long")
                mapped_toks.append(F.when(
                    present,
                    _tok(attr, F.coalesce(n.cast("string"), v))))
            elif kind in ("ms", "us"):
                div = 1_000 if kind == "ms" else 1_000_000
                f = v.try_cast("double")
                mapped_toks.append(F.when(
                    present & f.isNotNull(),
                    _tok(attr, (f / div).cast("string"))))
            elif kind == "p":
                parts = F.split(F.coalesce(v, F.lit("")), "/")
                ok = (F.size(parts) == 2) & (parts[0] != "") & (
                    parts[1] != "")
                mapped_toks.append(F.when(
                    present & ok, _tok(attr, F.lower(parts[0]))))
                mapped_toks.append(F.when(
                    present & ok,
                    _tok("network.protocol.version", parts[1])))
        leftover = F.map_filter(
            props, lambda k, _v: ~k.isin(*mapping.keys()))
        branch_toks = F.concat(
            F.filter(F.array(*mapped_toks), lambda t: t.isNotNull()),
            F.when(F.size(leftover) > 0, F.array(_tok(
                "properties",
                F.to_json(F.map_from_entries(
                    F.array_sort(F.map_entries(leftover)))))))
            .otherwise(F.array().cast("array<string>")))
        branches.append((category, branch_toks))

    default_toks = F.array(_tok(
        "properties",
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(props))))))

    handled = None
    for category, branch in branches:
        handled = (F.when(cat == category, branch) if handled is None
                   else handled.when(cat == category, branch))
    handled = handled.otherwise(default_toks)

    return F.concat(base,
                    F.when(has_props, handled)
                    .otherwise(F.array().cast("array<string>")))


def azurelogs_parse(df: DataFrame, version: str = "v0.0.1") -> DataFrame:
    """Parse Azure Event Hub resource-log batches with the azurelogs
    (next-gen) translator. Adds per-record columns:

    - ``az2_ok`` batch JSON parsed, ``az2_resource_id``
    - ``az2_ts_ns`` / ``az2_sev_num`` / ``az2_sev_text`` / ``az2_cat``
    - ``az2_attrs``  canonical attr string (implemented categories)
    - ``az2_body``   canonical raw-attribute string (fallback)
    - ``az2_err``    handler error (record kept, no attrs, no body)

    One zero-shuffle projection pipeline (staged behind select
    barriers); records with unparsable timestamps are dropped exactly
    like resourcelogs_to_logs.go:111-115.
    """
    line = F.col("body")
    # stage the envelope parse: the ok-flag and the explode would
    # otherwise each re-evaluate the from_json (staging rule, PLANS.md)
    df = df.select(
        "*",
        F.from_json(line, f"struct<records:{_AZ_REC}>").alias("_az2_z"),
    )
    z = F.col("_az2_z")
    recs = F.coalesce(z["records"], F.expr("array()").cast(_AZ_REC))
    out = df.select(
        "*",
        z.isNotNull().alias("az2_ok"),
        F.explode(recs).alias("_az2"),
    )
    r = F.col("_az2")

    ts_str = F.when(r["time"].isNotNull() & (r["time"] != ""),
                    r["time"]).otherwise(r["timeStamp"])
    ts = F.try_to_timestamp(ts_str)
    ts_ns = F.unix_micros(ts) * 1000

    level = r["Level"]
    word = F.element_at(
        F.create_map(*[F.lit(x) for kv in _SEV_WORDS.items()
                       for x in kv]), level)
    num = level.try_cast("long")
    sev_num = F.coalesce(word, F.when(num > 0, num.cast("int")),
                         F.when(level.isNotNull(), F.lit(0)))

    # stage 1: envelope + per-record raw JSON side-channels
    stage1 = out.where(ts.isNotNull()).select(
        "*",
        F.coalesce(r["resourceId"], F.lit("")).alias("az2_resource_id"),
        ts_ns.alias("az2_ts_ns"),
        sev_num.alias("az2_sev_num"),
        F.when(level.isNotNull(), level).alias("az2_sev_text"),
        F.coalesce(r["category"], F.lit("")).alias("az2_cat"),
        F.to_json(r["properties"]).alias("_props_json"),
    )
    r = F.col("_az2")
    cat = F.col("az2_cat")
    props_json = F.col("_props_json")

    # stage 2: per-category parsed property struct
    _ACCESS = (
        "struct<trackingReference:string,httpMethod:string,"
        "httpVersion:string,requestUri:string,sni:string,"
        "requestBytes:string,responseBytes:string,userAgent:string,"
        "clientIp:string,clientPort:string,socketIp:string,"
        "timeToFirstByte:string,timeTaken:string,requestProtocol:string,"
        "securityProtocol:string,httpStatusCode:string,pop:string,"
        "cacheStatus:string,endpoint:string,backendHostname:string,"
        "hostName:string,securityCipher:string,securityCurves:string,"
        "originIp:string>"
    )
    _WAF = (
        "struct<clientIP:string,clientPort:string,socketIP:string,"
        "requestUri:string,ruleName:string,policy:string,action:string,"
        "host:string,trackingReference:string,policyMode:string>"
    )
    stage2 = stage1.select(
        "*",
        F.from_json(props_json, _ACCESS).alias("_pa"),
        F.from_json(props_json, _WAF).alias("_pw"),
        F.from_json(props_json, "map<string,string>").alias("_pm"),
    )

    cdn_toks, cdn_err = _access_log_tokens(F.col("_pa"), props_json,
                                           is_cdn=True)
    fd_toks, fd_err = _access_log_tokens(F.col("_pa"), props_json,
                                         is_cdn=False)
    waf_toks, waf_err = _waf_log_tokens(F.col("_pw"))
    common = _common_schema_tokens(r)
    body_toks = _fallback_body_tokens(r, F.col("_pm"),
                                      r["identity"], cat)

    implemented = cat.isin(CAT_CDN, CAT_FD_ACCESS, CAT_FD_WAF)
    err = (F.when(cat == CAT_CDN, cdn_err)
           .when(cat == CAT_FD_ACCESS, fd_err)
           .when(cat == CAT_FD_WAF, waf_err)
           .otherwise(F.lit(False)))
    attr_toks = (F.when(cat == CAT_CDN, cdn_toks)
                 .when(cat == CAT_FD_ACCESS, fd_toks)
                 .when(cat == CAT_FD_WAF, waf_toks))

    # stage the token ARRAYS before canonicalizing: _canon_attrs's
    # dedup lambda re-evaluates its keys subtree PER ELEMENT, and over
    # an unstaged expression that is the whole ~80-branch token
    # construction (the zipkin entries^2 lesson; measured 70 -> ~8 s
    # for the attrs column at sf0.1)
    stage3 = stage2.select(
        "*",
        err.alias("az2_err"),
        F.when(implemented & ~err, F.concat(attr_toks, common))
        .alias("_attr_arr"),
        F.when(~implemented, body_toks).alias("_body_arr"),
    )
    return stage3.select(
        "*",
        F.lit(SCOPE_NAME).alias("az2_scope_name"),
        F.lit(version).alias("az2_scope_version"),
        F.when(F.col("_attr_arr").isNotNull(),
               _canon_attrs(F.col("_attr_arr"), sep="="))
        .alias("az2_attrs"),
        F.when(F.col("_body_arr").isNotNull(),
               _canon_attrs(F.col("_body_arr"), sep="="))
        .alias("az2_body"),
    ).drop("_az2", "_az2_z", "_props_json", "_pa", "_pw", "_pm",
           "_attr_arr", "_body_arr")
