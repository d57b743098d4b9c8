"""Log-Service EXPORT translator shared by the Alibaba SLS and
Tencent CLS exporters
(``exporter/alibabacloudlogserviceexporter/logsdata_to_logservice.go``
and ``exporter/tencentcloudlogserviceexporter/logsdata_to_logservice
.go`` — the two are field-for-field identical; they differ only in
the order the KV contents are appended, which a columnar output
makes moot).

One output row per log record, one column per SLS/CLS content key:

- records whose body is EMPTY-typed are dropped (:118-120); a
  present-but-empty string body is a valid Str and kept
- ``host`` / ``service`` = resource host.name / service.name
  AsString, "" when absent (:60-86); ``resource`` = the remaining
  resource attrs as a sorted-key JSON object (Go json.Marshal of a
  map, :88-99)
- ``otlp.name`` / ``otlp.version`` = scope name/version (:103-114)
- ``timeUnixNano`` (uint decimal), ``severityNumber`` (int decimal),
  ``severityText``, ``attribute`` (attr map JSON), ``content``
  (body AsString), ``flags`` (HEX), ``trace_id``/``span_id`` hex or
  "" (:131-172)
- Log.Time = ts seconds when ts > 0, else wall-clock Now() —
  NULL here for determinism (:176-181)
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sorted_json(m: Column, drop: list[str]) -> Column:
    ents = F.filter(
        F.map_entries(F.coalesce(
            m, F.expr("map()").cast("map<string,string>"))),
        lambda e: ~e["key"].isin(*drop) if drop else F.lit(True))
    return F.coalesce(
        F.when(F.size(ents) > 0,
               F.to_json(F.map_from_entries(F.array_sort(ents)))),
        F.lit("{}"))


def logservice_logs(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    res = F.col("res_attrs")
    ts = F.coalesce(F.col("ts_ns"), F.lit(0))

    return df.where(F.col("body").isNotNull()).select(
        *id_cols,
        F.when(ts > 0, F.expr(
            "CAST(COALESCE(ts_ns, 0) AS BIGINT)"
            " div 1000000000")).alias("time_s"),
        F.coalesce(res["host.name"], F.lit("")).alias("host"),
        F.coalesce(res["service.name"], F.lit("")).alias("service"),
        _sorted_json(res, ["host.name", "service.name"])
        .alias("resource"),
        F.coalesce(F.col("scope_name"), F.lit(""))
        .alias("otlp_name"),
        F.coalesce(F.col("scope_version"), F.lit(""))
        .alias("otlp_version"),
        ts.cast("string").alias("time_unix_nano"),
        F.coalesce(F.col("severity_number"), F.lit(0)).cast("string")
        .alias("severity_number"),
        F.coalesce(F.col("severity_text"), F.lit(""))
        .alias("severity_text"),
        _sorted_json(F.col("attrs"), []).alias("attribute"),
        F.col("body").alias("content"),
        F.lower(F.hex(F.coalesce(F.col("flags"), F.lit(0))))
        .alias("flags"),
        F.coalesce(F.col("trace_id"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("span_id"), F.lit("")).alias("span_id"),
    )


def logservice_spans(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    """Spans → SLS KV logs
    (``alibabacloudlogserviceexporter/tracedata_to_logservice.go``
    :66-145): OpenTracing short kind words with default
    "unspecified", µs start/end/duration, UNSET/OK/ERROR status
    words, links/events as sorted-key JSON arrays, Log.Time from the
    END timestamp (zero → Now(), NULL here).

    Known divergence: Go computes duration as
    ``uint64(end-start)/1000`` — a zero end timestamp UNDERFLOWS to
    ~2^64; this engine renders the signed value instead."""
    res = F.col("res_attrs")
    kind = F.coalesce(F.col("kind"), F.lit(0)).cast("int")
    start = F.coalesce(F.col("start_ns"), F.lit(0))
    end = F.coalesce(F.col("end_ns"), F.lit(0))

    kind_word = (F.when(kind == 1, F.lit("internal"))
                 .when(kind == 2, F.lit("server"))
                 .when(kind == 3, F.lit("client"))
                 .when(kind == 4, F.lit("producer"))
                 .when(kind == 5, F.lit("consumer"))
                 .otherwise(F.lit("unspecified")))
    code_word = (F.when(F.col("status_code") == 1, F.lit("OK"))
                 .when(F.col("status_code") == 2, F.lit("ERROR"))
                 .otherwise(F.lit("UNSET")))

    def jmap(m: Column) -> Column:
        return F.coalesce(
            F.when(F.size(F.map_entries(F.coalesce(
                m, F.expr("map()").cast("map<string,string>")))) > 0,
                F.to_json(F.map_from_entries(F.array_sort(
                    F.map_entries(m))))),
            F.lit("{}"))

    links = F.coalesce(
        F.col("links"),
        F.expr("array()").cast(
            "array<struct<trace_id:string,span_id:string,"
            "attrs:map<string,string>>>"))
    # ids are hex strings — no escaping needed; render directly
    links_json = F.concat(
        F.lit("["),
        F.array_join(F.transform(links, lambda ln: F.concat(
            F.lit('{"attribute":'), jmap(ln["attrs"]),
            F.lit(',"spanID":"'),
            F.coalesce(ln["span_id"], F.lit("")),
            F.lit('","traceID":"'),
            F.coalesce(ln["trace_id"], F.lit("")), F.lit('"}'))), ","),
        F.lit("]"))

    events = F.coalesce(
        F.col("events"),
        F.expr("array()").cast(
            "array<struct<ts_ns:bigint,name:string,"
            "attrs:map<string,string>>>"))
    _js = lambda c: F.substring(  # noqa: E731
        F.to_json(F.array(F.coalesce(c, F.lit("")))), 2,
        F.length(F.to_json(F.array(F.coalesce(c, F.lit(""))))) - 2)
    events_json = F.concat(
        F.lit("["),
        F.array_join(F.transform(events, lambda ev: F.concat(
            F.lit('{"attribute":'), jmap(ev["attrs"]),
            F.lit(',"name":'), _js(ev["name"]),
            F.lit(',"time":'), ev["ts_ns"].cast("string"),
            F.lit("}"))), ","),
        F.lit("]"))

    return df.select(
        *id_cols,
        F.when(end > 0, F.expr(
            "CAST(COALESCE(end_ns, 0) AS BIGINT)"
            " div 1000000000")).alias("time_s"),
        F.coalesce(res["host.name"], F.lit("")).alias("host"),
        F.coalesce(res["service.name"], F.lit("")).alias("service"),
        _sorted_json(res, ["host.name", "service.name"])
        .alias("resource"),
        F.coalesce(F.col("scope_name"), F.lit(""))
        .alias("otlp_name"),
        F.coalesce(F.col("scope_version"), F.lit(""))
        .alias("otlp_version"),
        F.coalesce(F.col("trace_id"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("span_id"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("parent_span_id"), F.lit(""))
        .alias("parent_span_id"),
        kind_word.alias("kind"),
        F.coalesce(F.col("name"), F.lit("")).alias("name"),
        links_json.alias("links"),
        events_json.alias("logs"),
        F.coalesce(F.col("trace_state"), F.lit(""))
        .alias("trace_state"),
        F.expr("CAST(COALESCE(start_ns, 0) AS BIGINT)"
               " div 1000").cast("string").alias("start"),
        F.expr("CAST(COALESCE(end_ns, 0) AS BIGINT)"
               " div 1000").cast("string").alias("end"),
        F.expr("CAST(COALESCE(end_ns, 0)"
               " - COALESCE(start_ns, 0) AS BIGINT) div 1000")
        .cast("string").alias("duration"),
        jmap(F.col("attrs")).alias("attribute"),
        code_word.alias("status_code"),
        F.coalesce(F.col("status_message"), F.lit(""))
        .alias("status_message"),
    )


_LN_T = "struct<name:string,extra:string,value:string>"
_EMPTY_LNS = f"array<{_LN_T}>"


def _sanitize_label_key(c: Column) -> Column:
    """sanitize.go:15-41: non-alnum → '_', digit-leading → 'key_',
    underscore-leading → 'key'; empty stays empty."""
    s = F.regexp_replace(c, r"[^0-9a-zA-Z]", "_")
    s = F.when(s.rlike("^[0-9]"), F.concat(F.lit("key_"), s)) \
        .otherwise(s)
    s = F.when(s.startswith("_"), F.concat(F.lit("key"), s)) \
        .otherwise(s)
    return F.when(c == "", c).otherwise(s)


def _fmt_g(c: Column) -> Column:
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def logservice_metrics(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    """Metric datapoints → SLS time-series KV logs
    (``alibabacloudlogserviceexporter/metricsdata_to_logservice.go``):
    ``__name__`` via formatMetricName ([a-zA-Z0-9_:] else ``_``),
    ``__labels__`` = ``k#$#v|...`` with sanitized keys sorted by key
    (resource labels then point attrs; the reference's sort is
    unstable on duplicate keys — unique keys assumed), ``__time_nano__``
    decimal, ``__value__`` FormatFloat 'g'. Gauge/sum per point
    (EMPTY skipped), histogram ``_sum``/``_count`` + RAW per-bucket
    counts with ``le`` = 'g' bound / ``+Inf`` capped at
    min(len(bounds)+1, len(counts)) (:179-225), summary
    ``_sum``/``_count`` + UNSUFFIXED quantile points (:227-261),
    exp-histogram/empty dropped; Log.Time = ns/1e9 with NO Now()
    fallback (:113-119)."""
    name = F.col("name")
    mtype = F.col("mtype")

    def lab_ents(m: Column) -> Column:
        return F.transform(
            F.map_entries(F.coalesce(
                m, F.expr("map()").cast("map<string,string>"))),
            lambda e: F.struct(
                _sanitize_label_key(e["key"]).alias("key"),
                e["value"].alias("value")))

    base_ents = F.concat(lab_ents(F.col("res_attrs")),
                         lab_ents(F.col("attrs")))

    def ln(nm: Column, extra: Column, value: Column) -> Column:
        return F.struct(nm.alias("name"),
                        extra.cast("string").alias("extra"),
                        value.cast("string").alias("value"))

    def one(cond: Column, x: Column) -> Column:
        return F.when(cond, F.array(x)).otherwise(
            F.expr("array()").cast(_EMPTY_LNS))

    nil_s = F.lit(None).cast("string")
    is_int = F.col("is_int")
    number_lns = one(
        mtype.isin("gauge", "sum") & is_int.isNotNull(),
        ln(name,
           nil_s,
           F.when(is_int, F.col("vint").cast("string"))
           .otherwise(_fmt_g(F.col("vdouble")))))

    counts = F.coalesce(F.col("bucket_counts"),
                        F.expr("array()").cast("array<bigint>"))
    bounds = F.coalesce(F.col("bounds"),
                        F.expr("array()").cast("array<double>"))
    n_buckets = F.least(F.size(bounds) + 1, F.size(counts))
    hist = mtype == "histogram"
    sum_v = _fmt_g(F.coalesce(F.col("sum"), F.lit(0.0)))
    count_v = F.coalesce(F.col("count"), F.lit(0)).cast("string")
    hist_lns = F.concat(
        one(hist, ln(F.concat(name, F.lit("_sum")), nil_s, sum_v)),
        one(hist, ln(F.concat(name, F.lit("_count")), nil_s,
                     count_v)),
        F.when(hist, F.filter(F.transform(
            counts,
            lambda c, j: F.when(j < n_buckets, ln(
                F.concat(name, F.lit("_bucket")),
                F.when(j < F.size(bounds),
                       _fmt_g(F.element_at(bounds, j + 1)))
                .otherwise(F.lit("+Inf")),
                c.cast("string")))),
            lambda x: x.isNotNull()))
        .otherwise(F.expr("array()").cast(_EMPTY_LNS)),
    )

    summ = mtype == "summary"
    summary_lns = F.concat(
        one(summ, ln(F.concat(name, F.lit("_sum")), nil_s, sum_v)),
        one(summ, ln(F.concat(name, F.lit("_count")), nil_s,
                     count_v)),
        F.when(summ, F.transform(
            F.coalesce(F.col("quantiles"), F.expr("array()").cast(
                "array<struct<q:double,v:double>>")),
            lambda qv: ln(name, _fmt_g(qv["q"]), _fmt_g(qv["v"]))))
        .otherwise(F.expr("array()").cast(_EMPTY_LNS)),
    )

    out = df.select(
        *id_cols,
        F.expr("CAST(COALESCE(ts_ns, 0) AS BIGINT)"
               " div 1000000000").alias("time_s"),
        F.coalesce(F.col("ts_ns"), F.lit(0)).cast("string")
        .alias("time_nano"),
        base_ents.alias("_base"),
        (F.when(mtype == "histogram", F.lit("le"))
         .when(mtype == "summary", F.lit("quantile"))).alias("_lkey"),
        F.explode(F.concat(number_lns, hist_lns, summary_lns))
        .alias("_ln"),
    )
    p = F.col("_ln")
    ents = F.array_sort(F.concat(
        F.col("_base"),
        F.when(p["extra"].isNotNull(), F.array(F.struct(
            F.col("_lkey").alias("key"), p["extra"].alias("value"))))
        .otherwise(F.expr("array()").cast(
            "array<struct<key:string,value:string>>"))))
    return out.select(
        *id_cols,
        F.col("time_s"),
        F.regexp_replace(p["name"], r"[^a-zA-Z0-9_:]", "_")
        .alias("metric_name"),
        F.array_join(F.transform(
            ents, lambda e: F.concat(e["key"], F.lit("#$#"),
                                     e["value"])), "|").alias("labels"),
        F.col("time_nano"),
        p["value"].alias("value"),
    )
