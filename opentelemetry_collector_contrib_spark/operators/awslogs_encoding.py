"""AWS logs ENCODING extension: VPC flow logs + WAF logs -> log rows
(``extension/encoding/awslogsencodingextension/internal/unmarshaler/
{vpc-flow-log,waf}``).

- VPC flow logs — vpc-flow-log/unmarshaler.go:91-399 + const.go:
  header-driven positional parse (the S3 file's first line names the
  fields; here the same list is the ``fields`` parameter), "-"
  values skipped, ecs-* fields ignored, field table mapped to
  semconv/aws.vpc.* attrs, protocol number -> IANA name through the
  256-slot table (out-of-range dead-letters), flow-direction
  ingress/egress -> receive/transmit (anything else dead-letters),
  ``end`` seconds -> the record timestamp, account-id/region hoisted
  to resource attrs, and the srcaddr/pkt-srcaddr precedence rules
  (:211-242): pkt-* wins as source/destination.address and the
  differing plain addr becomes network.local.address.
  Field-count mismatches (more or fewer values than fields)
  dead-letter the row (:167,:197-199).
- WAF logs — waf/unmarshaler.go:34-193: JSON lines; empty webaclId
  dead-letters; the web ACL arn splits into cloud.region /
  cloud.account.id / cloud.resource_id resource attrs; ms
  timestamps; "HTTP/<v>" -> network.protocol.name/version (bad
  format dead-letters); header array fans to
  http.request.header.<name>; empty strings skipped (putStr gate).

Both vectorized Column parses, zero Python.  The per-S3-file
"same web ACL everywhere" assertion is a transport framing check —
per-row resource derivation subsumes it here.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._awslogs_protocols import PROTOCOLS

_VPC_STR_FIELDS = {
    "vpc-id": "aws.vpc.id",
    "subnet-id": "aws.vpc.subnet.id",
    "instance-id": "host.id",
    "az-id": "aws.az.id",
    "interface-id": "network.interface.name",
    "action": "aws.vpc.flow.action",
    "log-status": "aws.vpc.flow.status",
    "tcp-flags": "network.tcp.flags",
    "sublocation-type": "aws.sublocation.type",
    "sublocation-id": "aws.sublocation.id",
    "pkt-src-aws-service": "aws.vpc.flow.source.service",
    "pkt-dst-aws-service": "aws.vpc.flow.destination.service",
    "traffic-path": "aws.vpc.flow.traffic_path",
    "reject-reason": "aws.vpc.flow.reject_reason",
}
_VPC_INT_FIELDS = {
    "srcport": "source.port",
    "dstport": "destination.port",
    "version": "aws.vpc.flow.log.version",
    "packets": "aws.vpc.flow.packets",
    "bytes": "aws.vpc.flow.bytes",
    "start": "aws.vpc.flow.start",
}


def vpc_flow_log_parse(
    df: DataFrame,
    *,
    id_cols: list[str],
    fields: list[str],
) -> DataFrame:
    # stage the split array: ~20 positional readers would otherwise
    # re-inline (and re-evaluate) the split per reference — the helix
    # lesson (PLANS.md session-4 addendum)
    df = df.select("*", F.split(F.col("line"), " ").alias("_vals"))
    vals = F.col("_vals")
    n_fields = len(fields)

    def val(i: int) -> Column:
        # "-" = not applicable (skip), like the reference's continue
        return F.nullif(F.nullif(F.try_element_at(vals, F.lit(i + 1)),
                                 F.lit("-")), F.lit(""))

    cols = {f: val(i) for i, f in enumerate(fields)}
    g = lambda f: cols.get(f, F.lit(None).cast("string"))  # noqa

    bad_count = F.size(vals) != n_fields

    entries = []
    bad_value = F.lit(False)
    for f in fields:
        v = cols[f]
        if f.startswith("ecs-") and f in (
                "ecs-cluster-arn", "ecs-cluster-name",
                "ecs-container-instance-arn",
                "ecs-container-instance-id", "ecs-container-id",
                "ecs-second-container-id", "ecs-service-name",
                "ecs-task-definition-arn", "ecs-task-arn",
                "ecs-task-id"):
            # the reference warns and skips every ecs-* field (:180)
            continue
        if f in _VPC_STR_FIELDS:
            entries.append((F.lit(_VPC_STR_FIELDS[f]), v))
        elif f in _VPC_INT_FIELDS:
            n = v.try_cast("bigint")
            bad_value = bad_value | (v.isNotNull() & n.isNull())
            entries.append((F.lit(_VPC_INT_FIELDS[f]),
                            n.cast("string")))
        elif f == "protocol":
            n = v.try_cast("int")
            bad_value = bad_value | (v.isNotNull() & (
                n.isNull() | (n < 0) | (n >= len(PROTOCOLS))))
            entries.append((
                F.lit("network.protocol.name"),
                F.when((n >= 0) & (n < len(PROTOCOLS)),
                       F.element_at(
                           F.array(*[F.lit(p) for p in PROTOCOLS]),
                           F.coalesce(F.when((n >= 0)
                                             & (n < len(PROTOCOLS)),
                                             n), F.lit(0)) + 1))))
        elif f == "type":
            entries.append((F.lit("network.type"), F.lower(v)))
        elif f == "flow-direction":
            bad_value = bad_value | (
                v.isNotNull() & ~v.isin("ingress", "egress"))
            entries.append((
                F.lit("network.io.direction"),
                F.when(v == "ingress", F.lit("receive"))
                .when(v == "egress", F.lit("transmit"))))

    # address precedence (:211-242)
    src, psrc = g("srcaddr"), g("pkt-srcaddr")
    dst, pdst = g("dstaddr"), g("pkt-dstaddr")
    entries.append((F.lit("source.address"), F.coalesce(psrc, src)))
    local_src = F.when(psrc.isNotNull() & src.isNotNull()
                       & (psrc != src), src)
    entries.append((F.lit("destination.address"),
                    F.coalesce(pdst, dst)))
    local_dst = F.when(pdst.isNotNull() & dst.isNotNull()
                       & (pdst != dst) & local_src.isNull(), dst)
    entries.append((F.lit("network.local.address"),
                    F.coalesce(local_src, local_dst)))

    attrs = F.map_from_entries(F.filter(
        F.array(*[F.when(v.isNotNull(),
                         F.struct(k.alias("key"), v.alias("value")))
                  for k, v in entries]),
        lambda x: x.isNotNull()))
    ts = g("end").try_cast("bigint")
    bad_value = bad_value | (g("end").isNotNull() & ts.isNull())

    return df.select(
        *id_cols,
        (bad_count | bad_value).alias("err"),
        (ts * 1_000_000_000).alias("ts_ns"),
        attrs.alias("attrs"),
        F.map_from_entries(F.filter(F.array(
            F.struct(F.lit("cloud.provider").alias("key"),
                     F.lit("aws").alias("value")),
            F.when(g("account-id").isNotNull(),
                   F.struct(F.lit("cloud.account.id").alias("key"),
                            g("account-id").alias("value"))),
            F.when(g("region").isNotNull(),
                   F.struct(F.lit("cloud.region").alias("key"),
                            g("region").alias("value"))),
        ), lambda x: x.isNotNull())).alias("res_attrs"),
    )


_WAF_SCHEMA = (
    "struct<timestamp:bigint,webaclId:string,terminatingRuleId:string,"
    "terminatingRuleType:string,action:string,httpSourceName:string,"
    "httpSourceId:string,httpRequest:struct<clientIp:string,"
    "country:string,headers:array<struct<name:string,value:string>>,"
    "uri:string,args:string,httpVersion:string,httpMethod:string,"
    "requestID:string,fragment:string,scheme:string,host:string>,"
    "responseCodeSent:bigint,ja3Fingerprint:string,"
    "ja4Fingerprint:string>")


def waf_log_parse(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    # stage the parse: ~25 field readers re-inline from_json per
    # reference otherwise
    df = df.select("*", F.from_json(F.col("line"), _WAF_SCHEMA)
                   .alias("_waf"))
    j = F.col("_waf")
    acl = F.coalesce(j["webaclId"], F.lit(""))
    arn_rest = F.when(acl.startswith("arn:aws:wafv2:"),
                      F.substring(acl, 15, 100000))
    region = F.nullif(F.try_element_at(F.split(arn_rest, ":", 3),
                              F.lit(1)), F.lit(""))
    account = F.nullif(F.try_element_at(F.split(arn_rest, ":", 3),
                              F.lit(2)), F.lit(""))
    rest = F.try_element_at(F.split(arn_rest, ":", 3), F.lit(3))
    req = j["httpRequest"]
    hv = req["httpVersion"]
    version = F.when(hv.startswith("HTTP/"),
                     F.nullif(F.substring(hv, 6, 1000), F.lit("")))
    err = (j.isNull() | (acl == "") | region.isNull()
           | account.isNull()
           | F.coalesce(rest == "", F.lit(True))
           | (hv.isNotNull() & (hv != "") & version.isNull()))

    def put(name: str, v: Column) -> Column:
        return F.when(v.isNotNull() & (v != ""),
                      F.struct(F.lit(name).alias("key"),
                               v.alias("value")))

    header_entries = F.coalesce(
        F.transform(req["headers"], lambda h: F.struct(
            F.concat(F.lit("http.request.header."), h["name"])
            .alias("key"),
            h["value"].alias("value"))),
        F.expr("array()").cast(
            "array<struct<key:string,value:string>>"))
    attrs = F.map_from_entries(F.concat(F.filter(F.array(
        F.when(version.isNotNull(),
               F.struct(F.lit("network.protocol.name").alias("key"),
                        F.lit("http").alias("value"))),
        F.when(version.isNotNull(),
               F.struct(F.lit("network.protocol.version")
                        .alias("key"), version.alias("value"))),
        F.when(j["responseCodeSent"].isNotNull(),
               F.struct(F.lit("http.response.status_code")
                        .alias("key"),
                        j["responseCodeSent"].cast("string")
                        .alias("value"))),
        put("aws.waf.terminating_rule.type", j["terminatingRuleType"]),
        put("aws.waf.terminating_rule.id", j["terminatingRuleId"]),
        put("aws.waf.action", j["action"]),
        put("aws.waf.source.id", j["httpSourceId"]),
        put("aws.waf.source.name", j["httpSourceName"]),
        put("client.address", req["clientIp"]),
        put("server.address", req["host"]),
        put("url.path", req["uri"]),
        put("url.query", req["args"]),
        put("http.request.method", req["httpMethod"]),
        put("aws.request_id", req["requestID"]),
        put("url.fragment", req["fragment"]),
        put("url.scheme", req["scheme"]),
        put("geo.country.iso_code", req["country"]),
        put("tls.client.ja3", j["ja3Fingerprint"]),
        put("tls.client.ja4", j["ja4Fingerprint"]),
    ), lambda x: x.isNotNull()), header_entries))

    return df.select(
        *id_cols, err.alias("err"),
        (j["timestamp"] * 1_000_000).alias("ts_ns"),
        F.when(~err, attrs).alias("attrs"),
        F.when(~err, F.map_from_entries(F.array(
            F.struct(F.lit("cloud.provider").alias("key"),
                     F.lit("aws").alias("value")),
            F.struct(F.lit("cloud.region").alias("key"),
                     region.alias("value")),
            F.struct(F.lit("cloud.account.id").alias("key"),
                     account.alias("value")),
            F.struct(F.lit("cloud.resource_id").alias("key"),
                     acl.alias("value")),
        ))).alias("res_attrs"),
    )


# --- S3 server access logs (s3-access-log/{unmarshaler,fields}.go) ----

_S3_FIELDS = [
    None, None, None,                       # owner, bucket, time
    "source.address", "user.id", "aws.request_id", "rpc.method",
    "aws.s3.key", None,                     # request uri
    "http.response.status_code", "error.type",
    "http.response.body.size", "aws.s3.object.size", "duration",
    "aws.s3.turn_around_time", "http.request.header.referer",
    "user_agent.original", "aws.s3.version_id",
    "aws.extended_request_id", "aws.signature.version", "tls.cipher",
    "aws.s3.auth_type", "http.request.header.host",
    "tls.protocol.version", "aws.s3.access_point.arn",
    "aws.s3.acl_required",
]
_S3_INT_IDX = {9, 11, 12, 13, 14}
_S3_TOKEN_RE = r'("[^"]*")|(\[[^\]]*\])|([^ ]+)'


def s3_access_log_parse(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    """One row per S3 server access log line (unmarshaler.go:95-256):
    quote-aware field scan (the bracketed timestamp is the Go
    two-token rejoin), "-" skips except the acl field, the
    "<method> <uri> <proto>" request split with path/query and the
    protocol name table, TLSv-prefix version extraction, Yes/- acl
    bool.  Field-count/parse violations dead-letter the row."""
    # stage the tokenization: 26 positional readers re-inline the
    # regexp_extract_all per reference otherwise (measured ~5x)
    df = df.select("*", F.regexp_extract_all(
        F.col("line"), F.lit(_S3_TOKEN_RE), F.lit(0))
        .alias("_toks"))
    toks = F.col("_toks")

    def tok(i: int) -> Column:
        t = F.try_element_at(toks, F.lit(i + 1))
        return F.regexp_replace(t, r'^"(.*)"$', r"$1")

    n_tok = F.size(toks)
    bad = n_tok != 26

    ts_raw = tok(2)
    ts = F.try_to_timestamp(
        ts_raw, F.lit("'['dd/MMM/yyyy:HH:mm:ss xx']'"))
    bad = bad | (ts_raw.isNotNull() & (ts_raw != "-") & ts.isNull())

    entries = []
    for i in range(3, 26):
        name = _S3_FIELDS[i]
        v = F.nullif(tok(i), F.lit("-"))
        if i == 8:  # request uri
            parts = F.split(tok(i), " ")
            ok3 = F.size(parts) == 3
            method = F.try_element_at(parts, F.lit(1))
            uri = F.try_element_at(parts, F.lit(2))
            proto = F.try_element_at(parts, F.lit(3))
            path = F.element_at(F.split(uri, r"\?", 2), 1)
            query = F.try_element_at(F.split(uri, r"\?", 2), F.lit(2))
            pname = F.element_at(F.split(proto, "/", 2), 1)
            pver = F.try_element_at(F.split(proto, "/", 2), F.lit(2))
            pname_m = (F.when(pname == "HTTP", F.lit("http"))
                       .when(pname == "QUIC", F.lit("quic"))
                       .when(pname == "SPDY", F.lit("spdy"))
                       .otherwise(F.lower(pname)))
            present = tok(i).isNotNull() & (tok(i) != "-")
            bad = bad | (present & (
                ~ok3 | (method == "") | (uri == "")
                | pver.isNull() | (pname == "")
                | F.coalesce(pver == "", F.lit(True))))
            entries += [
                (F.lit("http.request.method"),
                 F.when(present, method)),
                (F.lit("url.path"),
                 F.when(present & path.startswith("/"), path)),
                (F.lit("url.query"), F.when(present, query)),
                (F.lit("network.protocol.name"),
                 F.when(present, pname_m)),
                (F.lit("network.protocol.version"),
                 F.when(present, pver)),
            ]
        elif i == 23:  # TLS version: substring from the first '1'
            idx = F.instr(v, "1")
            bad = bad | (v.isNotNull() & (idx == 0))
            entries.append((F.lit(name),
                            F.when(idx > 0,
                                   F.substring(v, idx, 100000))))
        elif i == 25:  # acl required: Yes -> true, "-" -> false
            raw = tok(i)
            bad = bad | (raw.isNotNull()
                         & ~raw.isin("Yes", "-"))
            entries.append((F.lit(name),
                            F.when(raw == "Yes", F.lit("true"))
                            .when(raw == "-", F.lit("false"))))
        elif i in _S3_INT_IDX:
            n = v.try_cast("bigint")
            bad = bad | (v.isNotNull() & n.isNull())
            entries.append((F.lit(name), n.cast("string")))
        else:
            entries.append((F.lit(name), v))

    attrs = F.map_from_entries(F.filter(
        F.array(*[F.when(v.isNotNull(),
                         F.struct(k.alias("key"), v.alias("value")))
                  for k, v in entries]),
        lambda x: x.isNotNull()))
    owner = F.nullif(tok(0), F.lit("-"))
    bucket = F.nullif(tok(1), F.lit("-"))
    return df.select(
        *id_cols, bad.alias("err"),
        (F.unix_timestamp(ts).cast("bigint") * 1_000_000_000)
        .alias("ts_ns"),
        F.when(~bad, attrs).alias("attrs"),
        F.when(~bad, F.map_from_entries(F.filter(F.array(
            F.struct(F.lit("cloud.provider").alias("key"),
                     F.lit("aws").alias("value")),
            F.when(bucket.isNotNull(),
                   F.struct(F.lit("aws.s3.bucket").alias("key"),
                            bucket.alias("value"))),
            F.when(owner.isNotNull(),
                   F.struct(F.lit("aws.s3.owner").alias("key"),
                            owner.alias("value"))),
        ), lambda x: x.isNotNull()))).alias("res_attrs"),
    )


# --- CloudTrail logs (cloudtraillog/unmarshaler.go) -------------------

_CT_SCHEMA = (
    "struct<Records:array<struct<eventVersion:string,eventTime:string,"
    "eventSource:string,eventName:string,awsRegion:string,"
    "sourceIPAddress:string,userAgent:string,requestID:string,"
    "eventID:string,eventType:string,eventCategory:string,"
    "recipientAccountId:string,userIdentity:struct<type:string,"
    "principalId:string,arn:string,accountId:string,"
    "accessKeyId:string,userName:string,userId:string,"
    "identityStoreArn:string>,responseElements:map<string,string>,"
    "requestParameters:map<string,string>,resources:array<struct<"
    "accountId:string,type:string,ARN:string>>,readOnly:boolean,"
    "managementEvent:boolean,tlsDetails:struct<tlsVersion:string,"
    "cipherSuite:string,clientProvidedHostHeader:string>,"
    "sessionCredentialFromConsole:string,errorCode:string,"
    "errorMessage:string,sharedEventID:string>>>")


def cloudtrail_log_parse(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    """CloudTrail file -> one row per Records[] entry
    (unmarshaler.go:93-279): RFC3339 eventTime (bad time
    dead-letters), the field/semconv table with empty-skip gates,
    TLSv-prefix version trim, sessionCredentialFromConsole=="true"
    bool, nested request/response/insight maps kept as flat
    string maps and resources as account.id/type/arn structs."""
    parsed = df.select(
        *id_cols,
        F.posexplode(F.coalesce(
            F.from_json(F.col("body"), _CT_SCHEMA)["Records"],
            F.expr("array()").cast(
                _CT_SCHEMA[len("struct<Records:"):-1])))
        .alias("_pos", "r"))
    r = F.col("r")
    ts = F.try_to_timestamp(r["eventTime"])
    err = r["eventTime"].isNotNull() & ts.isNull()
    ui, tls = r["userIdentity"], r["tlsDetails"]
    tlsv = tls["tlsVersion"]
    tls_version = F.when(tlsv.startswith("TLSv"),
                         F.substring(tlsv, 5, 1000)).otherwise(tlsv)

    def put(name: str, v: Column) -> Column:
        return F.when(v.isNotNull() & (v != ""),
                      F.struct(F.lit(name).alias("key"),
                               v.alias("value")))

    def put_always(name: str, v: Column) -> Column:
        return F.struct(F.lit(name).alias("key"),
                        F.coalesce(v, F.lit("")).alias("value"))

    attrs = F.map_from_entries(F.filter(F.array(
        put_always("aws.cloudtrail.event_version", r["eventVersion"]),
        put_always("aws.cloudtrail.event_id", r["eventID"]),
        put("rpc.method", r["eventName"]),
        put_always("rpc.system", r["eventType"]),
        put("rpc.service", r["eventSource"]),
        put("aws.request_id", r["requestID"]),
        put_always("aws.event.category", r["eventCategory"]),
        F.when(r["readOnly"].isNotNull(),
               F.struct(F.lit("aws.event.read_only").alias("key"),
                        r["readOnly"].cast("string").alias("value"))),
        F.when(r["managementEvent"].isNotNull(),
               F.struct(F.lit("aws.event.management").alias("key"),
                        r["managementEvent"].cast("string")
                        .alias("value"))),
        put("source.address", r["sourceIPAddress"]),
        put("user_agent.original", r["userAgent"]),
        F.when(r["sessionCredentialFromConsole"] == "true",
               F.struct(F.lit("aws.session.console").alias("key"),
                        F.lit("true").alias("value"))),
        put("user.id", ui["userId"]),
        put("user.name", ui["userName"]),
        put("aws.access_key.id", ui["accessKeyId"]),
        put("aws.identity_store.arn", ui["identityStoreArn"]),
        put("aws.principal.id", ui["principalId"]),
        put("aws.principal.arn", ui["arn"]),
        put("aws.principal.type", ui["type"]),
        put("tls.protocol.version", tls_version),
        put("tls.cipher", tls["cipherSuite"]),
        put("server.address", tls["clientProvidedHostHeader"]),
        put("aws.error.code", r["errorCode"]),
        put("aws.error.message", r["errorMessage"]),
        put("aws.shared_event_id", r["sharedEventID"]),
    ), lambda x: x.isNotNull()))

    return parsed.select(
        *id_cols, err.alias("err"),
        (F.unix_timestamp(ts).cast("bigint") * 1_000_000_000)
        .alias("ts_ns"),
        F.when(~err, attrs).alias("attrs"),
        F.when(~err, r["requestParameters"])
        .alias("request_parameters"),
        F.when(~err, r["responseElements"])
        .alias("response_elements"),
        F.when(~err, F.transform(
            F.coalesce(r["resources"], F.expr("array()").cast(
                "array<struct<accountId:string,type:string,"
                "ARN:string>>")),
            lambda x: F.struct(x["accountId"].alias("account_id"),
                               x["type"].alias("type"),
                               x["ARN"].alias("arn"))))
        .alias("resources"),
        F.map_from_entries(F.array(
            F.struct(F.lit("cloud.provider").alias("key"),
                     F.lit("aws").alias("value")),
            F.struct(F.lit("cloud.region").alias("key"),
                     F.coalesce(r["awsRegion"], F.lit(""))
                     .alias("value")),
            F.struct(F.lit("cloud.account.id").alias("key"),
                     F.coalesce(r["recipientAccountId"], F.lit(""))
                     .alias("value")),
        )).alias("res_attrs"),
    )
