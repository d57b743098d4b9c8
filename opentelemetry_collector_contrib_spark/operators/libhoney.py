"""Libhoney (Honeycomb) event → OTLP log/span translation.

Re-expresses ``receiver/libhoneyreceiver/internal``
(libhoneyevent/libhoneyevent.go:57-389, parser/parser.go:36-258,
eventtime/eventtime.go:16-49) over a DataFrame of libhoney event JSON
objects (one event per row, with a ``dataset`` column — the HTTP
receiver's ``/1/batch/{dataset}`` path segment). The default field
map (factory.go:39-66) is baked in. Semantics mirrored and pinned by
``tests/test_round5_libhoney.py``:

- signal routing (``meta.signal_type`` / ``meta.annotation_type``,
  :96-120): trace→span (span_event / span_link for those annotation
  types), log→log, anything else / absent → log;
- service (:123-129): ``service.name`` field else the dataset; scope
  (:132-155): ``library.name`` (+``library.version``, "unset" when
  absent) — an event with no library name lands in the seeded
  ``libhoney.receiver``/``1.0.0`` scope whose service is the DATASET
  (parser.go:46-52), even when the event has its own service.name;
- event time (eventtime.go): RFC3339Nano, else integer epoch
  (10 digits = seconds; longer = seconds.fraction with float64
  modf replay), else float seconds; absent → null here (the
  reference stamps arrival time — non-deterministic);
- span ids (:283-332): dashes stripped, 32-hex → trace id, 16-hex →
  span id; anything else falls back to an FNV-1a-64 derived id
  (little-endian; trace = h(s) ++ h(s‖s)); a missing id is random in
  the reference → null here. Parent (:261-280): ≥16 bytes → LAST 8,
  ≥8 → first 8, shorter/bad hex → FNV of the RAW (un-stripped) value;
- span fields: end = start + duration_ms×1e6 (first configured
  duration field, float64); ``error`` PRESENT (any value) → status
  code 2 else unset-0 (:345-347); ``status_message`` feeds the status
  AND stays an attribute; ``meta.*`` stay attributes on spans/logs;
- logs (:207-258): severity_code/severity_text/flags/body consumed;
  the int assertions are msgpack-only (a JSON number panics the
  reference) — here any whole number is accepted;
- span events/links (parser.go:140-258): keyed by
  ``trace.parent_id``; links need strict 32/16-hex
  ``trace.link.trace_id``/``span_id`` (NO dash stripping) or the link
  is dropped (``lh_ok`` false); ``trace.link.*``-prefixed and
  ``meta.*`` keys are excluded from link/event attributes. The
  reference's attach step also excludes the trace fields because the
  shared exclusion slice has been mutated by then (parser.go:73-74 —
  order-dependent in a batch; deterministic here);
- attributes: SampleRate (default 1) on spans and logs; remaining
  ``data`` fields typed string/double/bool (Go json gives float64 for
  every number, so the int branches are dead code).

Plan shape: one ``from_json`` (data as ``map<string,variant>``) +
zero-shuffle projection; the only Python is the FNV fallback
(Arrow-batched, reused from functions/ottl.py). The reference's
per-batch scope packing (first-seen library version wins) is a
groupBy away and not row-state here.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ottl import FNV
from .zipkin import _canon, _tok, _zk_fold_whole

_LH_SCHEMA = (
    "struct<time:string,samplerate:long,data:map<string,variant>>"
)

SPAN_FIELDS = (
    "name", "trace.trace_id", "trace.parent_id", "trace.span_id", "error",
    "span.kind", "duration_ms",
)
BASE_FIELDS = ("service.name", "library.name", "library.version")
LOG_FIELDS = ("severity_text", "severity_code", "flags", "body")


def _le_hex(n: Column, nbytes: int) -> Column:
    """Little-endian hex of the low ``nbytes`` bytes of a long."""
    be = F.lpad(F.lower(F.hex(n)), 16, "0")
    pairs = [F.substring(be, 17 - 2 * (i + 1), 2) for i in range(nbytes)]
    return F.concat(*pairs)


def _fnv_span_hex(s: Column) -> Column:
    """spanIDFrom (:157-164): LE bytes of fnv64a(s)."""
    return _le_hex(FNV(s), 8)


def _fnv_trace_hex(s: Column) -> Column:
    """traceIDFrom (:166-176): LE(h(s)) ++ LE(h(s‖s)) — the second
    write continues the first hash state."""
    return F.concat(_le_hex(FNV(s), 8), _le_hex(FNV(F.concat(s, s)), 8))


def _event_time_ns(t: Column) -> Column:
    """eventtime.GetEventTime: RFC3339Nano → integer epoch →
    float-seconds; null when absent/unparseable (reference: now())."""
    iso = F.try_to_timestamp(t)
    int_like = t.rlike(r"^[0-9]+$")
    sec10 = F.when(int_like & (F.length(t) == 10), t.cast("long") * 1000000000)
    fractional = F.concat(
        F.substring(t, 1, 10), F.lit("."), F.substring(t, 11, 100)
    )
    fl = F.when(
        int_like & (F.length(t) > 10), fractional.try_cast("double")
    ).when(~int_like, t.try_cast("double"))
    sec = fl.cast("long").cast("double")  # math.Modf integer part
    fl_ns = F.when(
        fl.isNotNull(),
        sec.cast("long") * 1000000000 + ((fl - sec) * 1e9).cast("long"),
    )
    return F.coalesce(
        F.when(iso.isNotNull(), F.unix_micros(iso) * 1000), sec10, fl_ns
    )


def _strip(c: Column) -> Column:
    return F.replace(c, F.lit("-"), F.lit(""))


_HEXRE = r"^[0-9a-fA-F]+$"


def libhoney_events_parse(df: DataFrame) -> DataFrame:
    """One libhoney event JSON per row (+ a ``dataset`` column) → one
    row per signal with flattened OTLP columns (``lh_*``)."""
    # from_json is PERMISSIVE (all-null struct on corrupt input) —
    # try_parse_json is the malformed-row gate (Unmarshal error analog)
    parsed = df.where(
        F.try_parse_json(F.col("body")).isNotNull()
    ).select("*", F.from_json(F.col("body"), _LH_SCHEMA).alias("_e"))
    e = F.col("_e")
    data = F.coalesce(
        e["data"], F.from_json(F.lit("{}"), "map<string,variant>")
    )
    dataset = F.col("dataset")

    get = lambda k: F.try_element_at(data, F.lit(k))  # noqa: E731
    gstr = lambda k: F.try_variant_get(get(k), "$", "string")  # noqa: E731

    sig_raw = gstr("meta.signal_type")
    anno = gstr("meta.annotation_type")
    signal = F.when(
        sig_raw == "trace",
        F.when(anno == "span_event", "span_event")
        .when(anno == "link", "span_link")
        .otherwise("span"),
    ).otherwise(F.lit("log"))

    has_lib = get("library.name").isNotNull()
    service = F.when(
        ~has_lib, dataset  # seeded libhoney.receiver scope (parser.go:46)
    ).otherwise(F.coalesce(gstr("service.name"), dataset))
    scope_name = F.when(has_lib, gstr("library.name")).otherwise(
        F.lit("libhoney.receiver")
    )
    scope_version = F.when(
        has_lib, F.coalesce(gstr("library.version"), F.lit("unset"))
    ).otherwise(F.lit("1.0.0"))

    ts_ns = _event_time_ns(e["time"])
    samplerate = F.coalesce(e["samplerate"], F.lit(1))

    # ----- span ids -----
    tid_raw = gstr("trace.trace_id")
    tid = _strip(tid_raw)
    trace_id = F.when(
        tid.rlike(_HEXRE) & (F.length(tid) == 32), F.lower(tid)
    ).when(tid_raw.isNotNull(), _fnv_trace_hex(tid))
    sid_raw = gstr("trace.span_id")
    sid = _strip(sid_raw)
    span_id = F.when(
        sid.rlike(_HEXRE) & (F.length(sid) == 16), F.lower(sid)
    ).when(sid_raw.isNotNull(), _fnv_span_hex(sid))
    pid_raw = gstr("trace.parent_id")
    pid = _strip(pid_raw)
    pid_hex_ok = pid.rlike(_HEXRE) & (F.length(pid) % 2 == 0)
    parent_id = F.when(
        pid_hex_ok & (F.length(pid) >= 32),
        F.lower(F.substring(pid, -16, 16)),  # last 8 bytes of a trace id
    ).when(
        pid_hex_ok & (F.length(pid) >= 16),
        F.lower(F.substring(pid, 1, 16)),
    ).when(pid_raw.isNotNull(), _fnv_span_hex(pid_raw))  # RAW, un-stripped

    duration_ms = F.coalesce(
        F.try_variant_get(get("duration_ms"), "$", "double"), F.lit(0.0)
    )
    end_ns = ts_ns + (duration_ms * 1e6).cast("long")
    status_code = F.when(get("error").isNotNull(), 2).otherwise(0)
    status_msg = F.coalesce(gstr("status_message"), F.lit(""))
    kind_raw = gstr("span.kind")
    kind = F.when(
        kind_raw.isin("server", "client", "producer", "consumer", "internal"),
        kind_raw,
    ).otherwise(F.lit("unspecified"))

    # ----- log fields (msgpack int semantics; JSON panics the ref) -----
    sev_num = F.try_variant_get(get("severity_code"), "$", "long")
    sev_text = gstr("severity_text")
    flags = F.try_variant_get(get("flags"), "$", "long")
    body = gstr("body")

    # ----- link ids (strict, no dash stripping, parser.go:178-226) -----
    ltid = gstr("trace.link.trace_id")
    lsid = gstr("trace.link.span_id")
    link_trace = F.when(
        ltid.rlike(_HEXRE) & (F.length(ltid) == 32), F.lower(ltid)
    )
    link_span = F.when(
        lsid.rlike(_HEXRE) & (F.length(lsid) == 16), F.lower(lsid)
    )
    link_ok = link_trace.isNotNull() & link_span.isNotNull()

    # ----- attributes -----
    def _typed(v: Column) -> Column:
        t = F.schema_of_variant(v)
        return (
            F.when(t == "STRING", F.try_variant_get(v, "$", "string"))
            .when(
                t == "BOOLEAN",
                F.when(F.try_variant_get(v, "$", "boolean"), "true").otherwise(
                    "false"
                ),
            )
            .when(
                t.rlike("^(DOUBLE|DECIMAL|FLOAT|BIGINT|INT|SMALLINT|TINYINT)"),
                _zk_fold_whole(v),
            )
        )  # other types: dropped (type-switch default)

    excluded = F.when(signal == "span", F.array(*map(F.lit, BASE_FIELDS + SPAN_FIELDS))).when(
        signal == "log", F.array(*map(F.lit, BASE_FIELDS + LOG_FIELDS))
    ).otherwise(
        F.array(
            *map(
                F.lit,
                BASE_FIELDS + SPAN_FIELDS
                + ("meta.signal_type", "meta.annotation_type"),
            )
        )
    )
    ents = F.map_entries(data)

    def _keep(kv: Column) -> Column:
        k = kv["key"]
        c = ~F.array_contains(excluded, k)
        c = c & ~((signal == "span_link") & k.startswith("trace.link."))
        return c

    # SampleRate is Put BEFORE the data loop (libhoneyevent.go:231,366),
    # so a literal "SampleRate" data field overwrites it — _canon is
    # last-wins, hence the SampleRate token goes FIRST.
    attr_toks = F.concat(
        F.filter(
            F.array(
                F.when(
                    signal.isin("span", "log"),
                    _tok(F.lit("SampleRate"), samplerate.cast("string")),
                )
            ),
            lambda x: x.isNotNull(),
        ),
        F.filter(
            F.transform(
                F.filter(ents, _keep),
                lambda kv: F.when(
                    _typed(kv["value"]).isNotNull(),
                    _tok(kv["key"], _typed(kv["value"])),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
    )

    is_span = signal == "span"
    is_log = signal == "log"
    staged = parsed.select(
        "*",
        signal.alias("lh_signal"),
        service.alias("lh_service"),
        scope_name.alias("lh_scope_name"),
        scope_version.alias("lh_scope_version"),
        ts_ns.alias("lh_ts_ns"),
        samplerate.alias("lh_samplerate"),
        F.when(is_span, trace_id).alias("lh_trace_id"),
        F.when(is_span, span_id).alias("lh_span_id"),
        F.when(is_span | (signal == "span_event") | (signal == "span_link"),
               parent_id).alias("lh_parent_id"),
        F.when(is_span | (signal == "span_event"),
               F.coalesce(gstr("name"), F.lit(""))).alias("lh_name"),
        F.when(is_span, kind).alias("lh_kind"),
        F.when(is_span, end_ns).alias("lh_end_ns"),
        F.when(is_span, status_code).alias("lh_status_code"),
        F.when(is_span, status_msg).alias("lh_status_msg"),
        F.when(is_log, sev_num).alias("lh_severity_number"),
        F.when(is_log, sev_text).alias("lh_severity_text"),
        F.when(is_log, flags).alias("lh_flags"),
        F.when(is_log, body).alias("lh_body"),
        F.when(signal == "span_link", link_trace).alias("lh_link_trace_id"),
        F.when(signal == "span_link", link_span).alias("lh_link_span_id"),
        ((signal != "span_link") | link_ok).alias("lh_ok"),
        attr_toks.alias("_lh_toks"),
    ).drop("_e")
    return staged.select(
        "*", _canon(F.col("_lh_toks")).alias("lh_attrs")
    ).drop("_lh_toks")
