"""SkyWalking segment → OTLP span translation.

Re-expresses ``pkg/translator/skywalking/skywalkingproto_to_traces.go``
(:43-362) over a DataFrame of SkyWalking ``SegmentObject`` JSON
documents (one segment per row — the at-rest form of the gRPC
receiver's proto). Semantics mirrored and pinned by
``tests/test_round5_skywalking.py``:

- trace id (:266-279): a ≤36-char id parses as an RFC-4122 UUID
  (dashed 36-char or plain 32-hex; anything else → all-zero id); a
  longer java-agent id (``hex32.mid.last``) goes through
  ``swStringToUUID`` — hex-decode the first 32 chars, then XOR the
  *little-endian* bytes of ``mid`` (u32) into bytes 4-7 and of
  ``last`` (u64) into bytes 8-15;
- span / parent ids (:281-290): ``segmentIDToSpanID(segmentId,
  uint32(spanId))`` = the same UUID fold with ``spanId`` XORed into
  bytes 0-3, then high-half XOR low-half to 8 bytes; a segment id
  shorter than 32 chars → all-zero span id;
- parent (:110-116): ``parentSpanId != -1`` → same-segment id; else
  exactly one ref → that ref's ``(parentTraceSegmentId,
  parentSpanId)``; else none;
- resource (:54-60): the mapped-tag sweep runs per span with a
  ``Clear()`` — only the LAST span's tags survive, and only the five
  ``otSpanTagsMapping`` keys (url→http.url, status_code→
  http.status_code, db.type→db.system, db.instance→db.name,
  mq.broker→net.peer.name); then service.name / service.instance.id /
  sw8.trace_id (the RAW segment trace id) are put on top;
- span attrs (:122-131, :217-222): every span tag verbatim +
  ``sw8.segment_id`` + ``sw8.span_id`` (int) + ``sw8.parent_span_id``
  (only when != -1);
- status (:207-215): always set — isError → (2, "ERROR") else
  (1, "SUCCESS");
- kind (:134-150): MQ layer: Entry→consumer, Exit→producer, any other
  MQ type → unspecified; otherwise Exit→client, Entry→server,
  Local→internal, else unspecified;
- events (:224-249): every log becomes an event named "logs" with the
  data pairs as attrs; timestamps are epoch MILLIseconds (the Go
  helper is named microsecondsToTimestamp but calls time.UnixMilli —
  replay the code, not the name);
- links (:157-205): one per ref — trace from ``ref.traceId``, span
  from ``(parentTraceSegmentId, parentSpanId)``, plus the eight
  parent.* / refType / sw8.* attributes.

Documented divergences: a first-32-chars hex-decode failure yields an
all-zero id (Go keeps the partially-decoded prefix, an artifact of
``hex.Decode``'s error contract); a >32-char segment id whose single
dot sits at index 32 with no second dot panics in Go — here it is the
all-zero id like every other malformed long form; ``mid``/``last``
accept digits only (Go's Atoi would also take a sign, unseen in
agent-generated ids).

Plan shape: one ``from_json`` + ``explode`` + zero-shuffle codegen
projection; id folds are pure 32-bit word arithmetic (conv/xor/
shift), no Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .zipkin import _canon, _tok

_KV = "struct<key:string,value:string>"
_REF = (
    "struct<refType:string,traceId:string,parentTraceSegmentId:string,"
    "parentSpanId:int,parentService:string,parentServiceInstance:string,"
    "parentEndpoint:string,networkAddressUsedAtPeer:string>"
)
_SW_SCHEMA = (
    "struct<traceId:string,traceSegmentId:string,service:string,"
    "serviceInstance:string,spans:array<struct<"
    "spanId:int,parentSpanId:int,startTime:long,endTime:long,"
    f"refs:array<{_REF}>,operationName:string,peer:string,"
    "spanType:string,spanLayer:string,componentId:int,isError:boolean,"
    f"tags:array<{_KV}>,logs:array<struct<time:long,data:array<{_KV}>>>,"
    "skipAnalysis:boolean>>>"
)

# otSpanTagsMapping (:34-40), semconv v1.8 string values
SW_RESOURCE_TAG_MAP: dict[str, str] = {
    "url": "http.url",
    "status_code": "http.status_code",
    "db.type": "db.system",
    "db.instance": "db.name",
    "mq.broker": "net.peer.name",
}

_HEX32 = r"^[0-9a-fA-F]{32}"
_UUID36 = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{12}$"
)
_JAVA_ID = r"^([0-9a-fA-F]{32})\.([0-9]+)\.([0-9]+)$"
_M32 = 4294967295


def _bswap32(x: Column) -> Column:
    """Byte-swap a u32 held in a long (the little-endian XOR fold)."""
    b0 = x.bitwiseAND(F.lit(255))
    b1 = F.shiftright(x, 8).bitwiseAND(F.lit(255))
    b2 = F.shiftright(x, 16).bitwiseAND(F.lit(255))
    b3 = F.shiftright(x, 24).bitwiseAND(F.lit(255))
    return (
        F.shiftleft(b0, 24)
        .bitwiseOR(F.shiftleft(b1, 16))
        .bitwiseOR(F.shiftleft(b2, 8))
        .bitwiseOR(b3)
    )


def _word(s: Column, i: int) -> Column:
    """i-th big-endian u32 of a 32-hex string, as a long."""
    return F.conv(F.substring(s, 1 + 8 * i, 8), 16, 10).cast("long")


def _sw_uuid_words(s: Column, extra: Column) -> list[Column]:
    """swStringToUUID (:292-349) as four u32 words; malformed → zeros.

    ``extra`` must already be masked to u32.
    """
    is32 = s.rlike(_HEX32 + "$")
    mid = F.regexp_extract(s, _JAVA_ID, 2).try_cast("long")
    last = F.regexp_extract(s, _JAVA_ID, 3).try_cast("long")
    long_ok = s.rlike(_JAVA_ID) & mid.isNotNull() & last.isNotNull()
    ok = is32 | long_ok
    zero = F.lit(0).cast("long")
    w = [
        F.when(ok, _word(s, i)).otherwise(zero) for i in range(4)
    ]
    w[0] = w[0].bitwiseXOR(F.when(ok, _bswap32(extra)).otherwise(zero))
    lmask = F.when(long_ok, last.bitwiseAND(F.lit(_M32))).otherwise(zero)
    lhigh = F.when(
        long_ok, F.shiftrightunsigned(last, 32).bitwiseAND(F.lit(_M32))
    ).otherwise(zero)
    mmask = F.when(long_ok, mid.bitwiseAND(F.lit(_M32))).otherwise(zero)
    w[1] = w[1].bitwiseXOR(_bswap32(mmask))
    w[2] = w[2].bitwiseXOR(_bswap32(lmask))
    w[3] = w[3].bitwiseXOR(_bswap32(lhigh))
    return w


def _hex8(x: Column) -> Column:
    return F.lpad(F.lower(F.hex(x)), 8, "0")


def sw_trace_hex(trace_id: Column) -> Column:
    """swTraceIDToTraceID (:266-279) → 32-hex string."""
    n = F.length(F.coalesce(trace_id, F.lit("")))
    dashed = F.lower(F.replace(trace_id, F.lit("-"), F.lit("")))
    w = _sw_uuid_words(trace_id, F.lit(0).cast("long"))
    long_hex = F.concat(*[_hex8(c) for c in w])
    return (
        F.when((n == 36) & trace_id.rlike(_UUID36), dashed)
        .when((n == 32) & trace_id.rlike(_HEX32 + "$"), dashed)
        .when(n <= 36, F.lit("0" * 32))
        .otherwise(long_hex)
    )


def sw_span_hex(segment_id: Column, span_id: Column) -> Column:
    """segmentIDToSpanID (:281-290) → 16-hex string; uint32(spanId)."""
    extra = F.coalesce(span_id.cast("long"), F.lit(0)).bitwiseAND(
        F.lit(_M32)
    )
    w = _sw_uuid_words(segment_id, extra)
    folded = F.concat(
        _hex8(w[0].bitwiseXOR(w[2])), _hex8(w[1].bitwiseXOR(w[3]))
    )
    return F.when(
        F.length(F.coalesce(segment_id, F.lit(""))) < 32, F.lit("0" * 16)
    ).otherwise(folded)


def skywalking_segments_to_spans(
    df: DataFrame
) -> DataFrame:
    """One SegmentObject JSON per row → one row per span (``sw_*``)."""
    parsed = df.select(
        "*", F.from_json(F.col("body"), _SW_SCHEMA).alias("_sw")
    )
    seg = F.col("_seg")
    sp = F.col("_sp")
    rows = (
        parsed.where(
            F.col("_sw").isNotNull() & (F.size(F.col("_sw")["spans"]) > 0)
        )
        .select(
            "*",
            F.col("_sw").alias("_seg"),
            # the per-span Clear() loop means only the LAST span's
            # mapped tags reach the resource (:54-56,:74)
            F.try_element_at(F.col("_sw")["spans"], F.lit(-1))["tags"].alias(
                "_last_tags"
            ),
            F.explode(F.col("_sw")["spans"]).alias("_sp"),
        )
        .where(sp.isNotNull())  # nil-span skip (:96-98)
        .drop("_sw", "body")
    )

    seg_id = F.coalesce(seg["traceSegmentId"], F.lit(""))
    trace_hex = sw_trace_hex(seg["traceId"])
    span_hex = sw_span_hex(seg_id, sp["spanId"])
    psid = F.coalesce(sp["parentSpanId"], F.lit(0))
    refs = F.coalesce(sp["refs"], F.from_json(F.lit("[]"), f"array<{_REF}>"))
    ref1 = F.try_element_at(refs, F.lit(1))
    parent_hex = F.when(
        psid != -1, sw_span_hex(seg_id, psid)
    ).when(
        F.size(refs) == 1,
        sw_span_hex(
            F.coalesce(ref1["parentTraceSegmentId"], F.lit("")),
            ref1["parentSpanId"],
        ),
    )

    # ----- resource (:54-60) -----
    last_tags = F.coalesce(
        F.col("_last_tags"), F.from_json(F.lit("[]"), f"array<{_KV}>")
    )
    mapped = F.filter(
        F.transform(
            last_tags,
            lambda t: F.when(
                t["key"].isin(*SW_RESOURCE_TAG_MAP.keys()),
                _tok(
                    F.try_element_at(
                        F.create_map(
                            *[
                                F.lit(x)
                                for kv in SW_RESOURCE_TAG_MAP.items()
                                for x in kv
                            ]
                        ),
                        t["key"],
                    ),
                    F.coalesce(t["value"], F.lit("")),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    res_toks = F.concat(
        mapped,
        F.array(
            _tok(F.lit("service.name"), F.coalesce(seg["service"], F.lit(""))),
            _tok(
                F.lit("service.instance.id"),
                F.coalesce(seg["serviceInstance"], F.lit("")),
            ),
            _tok(F.lit("sw8.trace_id"), F.coalesce(seg["traceId"], F.lit(""))),
        ),
    )

    # ----- span attrs (:122-131, :217-222) -----
    tags = F.coalesce(sp["tags"], F.from_json(F.lit("[]"), f"array<{_KV}>"))
    attr_toks = F.concat(
        F.transform(
            tags, lambda t: _tok(t["key"], F.coalesce(t["value"], F.lit("")))
        ),
        F.array(_tok(F.lit("sw8.segment_id"), seg_id)),
        F.array(
            _tok(
                F.lit("sw8.span_id"),
                F.coalesce(sp["spanId"], F.lit(0)).cast("string"),
            )
        ),
        F.filter(
            F.array(
                F.when(
                    psid != -1,
                    _tok(F.lit("sw8.parent_span_id"), psid.cast("string")),
                )
            ),
            lambda x: x.isNotNull(),
        ),
    )

    # ----- kind (:134-150) -----
    st = F.coalesce(sp["spanType"], F.lit("Entry"))  # proto default 0
    kind = (
        F.when(
            sp["spanLayer"] == "MQ",
            F.when(st == "Entry", "consumer")
            .when(st == "Exit", "producer")
            .otherwise("unspecified"),
        )
        .when(st == "Exit", F.lit("client"))
        .when(st == "Entry", F.lit("server"))
        .when(st == "Local", F.lit("internal"))
        .otherwise(F.lit("unspecified"))
    )

    # ----- events (:224-249) -----
    logs = F.coalesce(
        sp["logs"],
        F.from_json(F.lit("[]"), f"array<struct<time:long,data:array<{_KV}>>>"),
    )
    events = F.transform(
        logs,
        lambda lg: F.concat_ws(
            "|",
            (F.coalesce(lg["time"], F.lit(0)) * 1000000).cast("string"),
            F.lit("logs"),
            F.array_join(
                F.array_sort(
                    F.transform(
                        F.coalesce(
                            lg["data"], F.from_json(F.lit("[]"), f"array<{_KV}>")
                        ),
                        lambda d: _tok(
                            d["key"], F.coalesce(d["value"], F.lit(""))
                        ),
                    )
                ),
                ",",
            ),
        ),
    )

    # ----- links (:157-205) -----
    def _link_token(r: Column) -> Column:
        attrs = F.array_sort(
            F.array(
                _tok(
                    F.lit("parent.service"),
                    F.coalesce(r["parentService"], F.lit("")),
                ),
                _tok(
                    F.lit("parent.service.instance"),
                    F.coalesce(r["parentServiceInstance"], F.lit("")),
                ),
                _tok(
                    F.lit("parent.endpoint"),
                    F.coalesce(r["parentEndpoint"], F.lit("")),
                ),
                _tok(
                    F.lit("network.AddressUsedAtPeer"),
                    F.coalesce(r["networkAddressUsedAtPeer"], F.lit("")),
                ),
                _tok(
                    F.lit("refType"),
                    F.coalesce(r["refType"], F.lit("CrossProcess")),
                ),
                _tok(
                    F.lit("sw8.trace_id"), F.coalesce(r["traceId"], F.lit(""))
                ),
                _tok(
                    F.lit("sw8.parent_segment_id"),
                    F.coalesce(r["parentTraceSegmentId"], F.lit("")),
                ),
                _tok(
                    F.lit("sw8.parent_span_id"),
                    F.coalesce(r["parentSpanId"], F.lit(0)).cast("string"),
                ),
            )
        )
        return F.concat_ws(
            "|",
            sw_trace_hex(r["traceId"]),
            sw_span_hex(
                F.coalesce(r["parentTraceSegmentId"], F.lit("")),
                r["parentSpanId"],
            ),
            F.array_join(attrs, ","),
        )

    links = F.transform(refs, _link_token)

    is_err = F.coalesce(sp["isError"], F.lit(False))
    staged = rows.select(
        "*",
        trace_hex.alias("sw_trace_id"),
        span_hex.alias("sw_span_id"),
        parent_hex.alias("sw_parent_id"),
        F.coalesce(sp["operationName"], F.lit("")).alias("sw_name"),
        kind.alias("sw_kind"),
        (F.coalesce(sp["startTime"], F.lit(0)) * 1000000).alias("sw_start_ns"),
        (F.coalesce(sp["endTime"], F.lit(0)) * 1000000).alias("sw_end_ns"),
        F.when(is_err, F.lit(2)).otherwise(F.lit(1)).alias("sw_status_code"),
        F.when(is_err, F.lit("ERROR")).otherwise(F.lit("SUCCESS")).alias(
            "sw_status_msg"
        ),
        res_toks.alias("_sw_res_toks"),
        attr_toks.alias("_sw_attr_toks"),
        F.array_join(events, ";").alias("sw_events"),
        F.array_join(links, ";").alias("sw_links"),
    ).drop("_seg", "_sp", "_last_tags")
    return staged.select(
        "*",
        _canon(F.col("_sw_res_toks")).alias("sw_resource_attrs"),
        _canon(F.col("_sw_attr_toks")).alias("sw_attrs"),
    ).drop("_sw_res_toks", "_sw_attr_toks")
