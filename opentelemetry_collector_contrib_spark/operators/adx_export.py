"""Azure Data Explorer EXPORT translator: OTLP logs/traces/metrics ->
the ADX table-row models
(``exporter/azuredataexplorerexporter/{logsdata,tracesdata,
metricsdata}_to_adx.go``).

- log rows    — logsdata_to_adx.go:29-45: RFC3339Nano timestamp +
  observed timestamp, hex ids, severity text/number, Body AsString,
  resource attrs, log attrs merged with the scope map (scope.name /
  scope.version when non-empty, SCOPE WINS — copyMap overwrites)
- trace rows  — tracesdata_to_adx.go:44-92: STATUS_CODE_* /
  SPAN_KIND_* proto words (traceutil), RFC3339Nano start/end, span
  attrs + scope map, events (name / RFC3339Nano ts / attrs) and
  links (hex ids / state / attrs) arrays
- metric rows — metricsdata_to_adx.go:53-248: host = resource
  host.name else the collector hostname (injected); gauge/sum one
  row per point with int-else-double value (empty stays 0.0) and
  scope-then-point attr merge (POINT wins); histogram fans to
  <name>_sum / <name>_count rows (description + "(Sum total of
  samples)" / "(Count of samples)") plus CUMULATIVE <name>_bucket
  rows per bound with le=<g-formatted bound> — emitted only when
  len(counts) == len(bounds)+1 — and the +Inf bucket adding the
  overflow count; summary fans to _sum/_count plus per-quantile
  rows named <name>_<'f'-formatted q> with qt and the quantile-name
  attr; MetricType words are the pmetric Type() strings

Zero-shuffle codegen projections throughout (the histogram bucket
fan uses one ``posexplode`` over the zipped bounds).  Numeric attr
values render via the shortest-double rule (whole doubles drop the
fraction) — Go's 'g'/-1 switches to exponent notation beyond 6
digits, out of model for the string fixtures used here.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .faro import _shortest_double
from .syslog_export import _rfc3339nano

_ENTRY_T = "array<struct<key:string,value:string>>"

_KIND_WORDS = ["SPAN_KIND_UNSPECIFIED", "SPAN_KIND_INTERNAL",
               "SPAN_KIND_SERVER", "SPAN_KIND_CLIENT",
               "SPAN_KIND_PRODUCER", "SPAN_KIND_CONSUMER"]
_STATUS_WORDS = ["STATUS_CODE_UNSET", "STATUS_CODE_OK",
                 "STATUS_CODE_ERROR"]


def _earr() -> Column:
    return F.expr("array()").cast(_ENTRY_T)


def _scope_entries(scope_name: Column, scope_version: Column) -> Column:
    return F.filter(F.array(
        F.when(scope_name != "",
               F.struct(F.lit("scope.name").alias("key"),
                        scope_name.alias("value"))),
        F.when(scope_version != "",
               F.struct(F.lit("scope.version").alias("key"),
                        scope_version.alias("value"))),
    ), lambda e: e.isNotNull())


def _merge_last_wins(*entry_arrays: Column) -> Column:
    rev = F.reverse(F.concat(*entry_arrays))
    return F.map_from_entries(F.filter(
        rev, lambda e, i: ~F.exists(F.slice(rev, F.lit(1), i),
                                    lambda p: p["key"] == e["key"])))


def adx_log_rows(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    scope = _scope_entries(F.coalesce(F.col("scope_name"), F.lit("")),
                           F.coalesce(F.col("scope_version"),
                                      F.lit("")))
    attrs = _merge_last_wins(
        F.coalesce(F.map_entries(F.col("attrs")), _earr()), scope)
    return df.select(
        *id_cols,
        _rfc3339nano(F.coalesce(F.col("ts_ns"), F.lit(0)))
        .alias("timestamp"),
        _rfc3339nano(F.coalesce(F.col("observed_ns"), F.lit(0)))
        .alias("observed_timestamp"),
        F.coalesce(F.col("trace_id"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("span_id"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("severity_text"), F.lit(""))
        .alias("severity_text"),
        F.coalesce(F.col("severity_number"), F.lit(0)).cast("int")
        .alias("severity_number"),
        F.coalesce(F.col("body"), F.lit("")).alias("body"),
        F.col("res_attrs").alias("resource_attributes"),
        attrs.alias("logs_attributes"),
    )


def adx_trace_rows(df: DataFrame, *, id_cols: list[str]) -> DataFrame:
    kind = F.coalesce(F.col("kind"), F.lit(0)).cast("int")
    code = F.coalesce(F.col("status_code"), F.lit(0)).cast("int")
    scope = _scope_entries(F.coalesce(F.col("scope_name"), F.lit("")),
                           F.coalesce(F.col("scope_version"),
                                      F.lit("")))
    attrs = _merge_last_wins(
        F.coalesce(F.map_entries(F.col("attrs")), _earr()), scope)
    ev = F.coalesce(F.col("events"), F.expr("array()").cast(
        "array<struct<ts_ns:bigint,name:string,"
        "attrs:map<string,string>>>"))
    ln = F.coalesce(F.col("links"), F.expr("array()").cast(
        "array<struct<trace_id:string,span_id:string,"
        "trace_state:string,attrs:map<string,string>>>"))
    return df.select(
        *id_cols,
        F.coalesce(F.col("trace_id"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("span_id"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("parent_span_id"), F.lit(""))
        .alias("parent_id"),
        F.coalesce(F.col("name"), F.lit("")).alias("span_name"),
        F.element_at(F.array(*[F.lit(w) for w in _STATUS_WORDS]),
                     F.when((code >= 0) & (code <= 2), code)
                     .otherwise(F.lit(0)) + 1).alias("span_status"),
        F.coalesce(F.col("status_message"), F.lit(""))
        .alias("span_status_message"),
        F.element_at(F.array(*[F.lit(w) for w in _KIND_WORDS]),
                     F.when((kind >= 0) & (kind <= 5), kind)
                     .otherwise(F.lit(0)) + 1).alias("span_kind"),
        _rfc3339nano(F.coalesce(F.col("start_ns"), F.lit(0)))
        .alias("start_time"),
        _rfc3339nano(F.coalesce(F.col("end_ns"), F.lit(0)))
        .alias("end_time"),
        F.col("res_attrs").alias("resource_attributes"),
        attrs.alias("trace_attributes"),
        F.transform(ev, lambda e: F.struct(
            e["name"].alias("event_name"),
            _rfc3339nano(e["ts_ns"]).alias("timestamp"),
            e["attrs"].alias("event_attributes"))).alias("events"),
        F.transform(ln, lambda x: F.struct(
            x["trace_id"].alias("trace_id"),
            x["span_id"].alias("span_id"),
            x["trace_state"].alias("trace_state"),
            x["attrs"].alias("span_link_attributes"))).alias("links"),
    )


def adx_metric_rows(df: DataFrame, *, id_cols: list[str],
                    metric_type: str,
                    default_host: str = "") -> DataFrame:
    """One call per metric family (``gauge`` | ``sum`` | ``histogram``
    | ``summary``), mirroring the mapToAdxMetric switch arms."""
    host = F.coalesce(
        F.nullif(F.element_at(F.col("res_attrs"), F.lit("host.name")),
                 F.lit("")), F.lit(default_host))
    scope = _scope_entries(F.coalesce(F.col("scope_name"), F.lit("")),
                           F.coalesce(F.col("scope_version"),
                                      F.lit("")))
    dp_entries = F.coalesce(F.map_entries(F.col("attrs")), _earr())
    base_attrs = _merge_last_wins(scope, dp_entries)
    ts = _rfc3339nano(F.coalesce(F.col("ts_ns"), F.lit(0)))
    name = F.coalesce(F.col("metric_name"), F.lit(""))
    desc = F.coalesce(F.col("metric_description"), F.lit(""))
    unit = F.coalesce(F.col("metric_unit"), F.lit(""))

    def out(rows: DataFrame, mname: Column, mdesc: Column,
            value: Column, attrs: Column, mtype: str) -> DataFrame:
        return rows.select(
            *id_cols,
            ts.alias("timestamp"), mname.alias("metric_name"),
            F.lit(mtype).alias("metric_type"),
            unit.alias("metric_unit"),
            mdesc.alias("metric_description"),
            value.cast("double").alias("metric_value"),
            attrs.alias("metric_attributes"),
            host.alias("host"),
            F.col("res_attrs").alias("resource_attributes"),
        )

    if metric_type in ("gauge", "sum"):
        vt = F.coalesce(F.col("value_type"), F.lit(0)).cast("int")
        value = (F.when(vt == 1, F.col("value_int").cast("double"))
                 .when(vt == 2, F.col("value_double"))
                 .otherwise(F.lit(0.0)))
        word = "Gauge" if metric_type == "gauge" else "Sum"
        return out(df, name, desc, value, base_attrs, word)

    if metric_type == "histogram":
        sum_r = out(df, F.concat(name, F.lit("_sum")),
                    F.concat(desc, F.lit("(Sum total of samples)")),
                    F.coalesce(F.col("sum"), F.lit(0.0)), base_attrs,
                    "Histogram")
        cnt_r = out(df, F.concat(name, F.lit("_count")),
                    F.concat(desc, F.lit("(Count of samples)")),
                    F.coalesce(F.col("count"), F.lit(0))
                    .cast("double"), base_attrs, "Histogram")
        counts = F.coalesce(F.col("bucket_counts"),
                            F.expr("array()").cast("array<bigint>"))
        bounds = F.coalesce(F.col("explicit_bounds"),
                            F.expr("array()").cast("array<double>"))
        ok = (F.size(counts) > 0) & (F.size(counts)
                                     == F.size(bounds) + 1)
        # cumulative count per bound + the +Inf overflow row
        cum = F.transform(
            bounds,
            lambda b, i: F.struct(
                _shortest_double(b).alias("le"),
                F.aggregate(F.slice(counts, F.lit(1), i + 1),
                            F.lit(0).cast("bigint"),
                            lambda acc, x: acc + x).alias("v")))
        inf_row = F.array(F.struct(
            F.lit("+Inf").alias("le"),
            (F.aggregate(F.slice(counts, F.lit(1),
                                 F.size(bounds)),
                         F.lit(0).cast("bigint"),
                         lambda acc, x: acc + x)
             + F.element_at(counts, F.size(counts))).alias("v")))
        fan = df.withColumn(
            "_bk", F.explode(F.when(ok, F.concat(cum, inf_row))))
        le_entry = F.array(F.struct(
            F.lit("le").alias("key"), F.col("_bk")["le"]
            .alias("value")))
        bucket_attrs = _merge_last_wins(scope, le_entry, dp_entries)
        bk_r = out(fan, F.concat(name, F.lit("_bucket")), desc,
                   F.col("_bk")["v"].cast("double"), bucket_attrs,
                   "Histogram")
        return sum_r.unionByName(cnt_r).unionByName(bk_r)

    if metric_type == "summary":
        sum_r = out(df, F.concat(name, F.lit("_sum")),
                    F.concat(desc, F.lit("(Sum total of samples)")),
                    F.coalesce(F.col("sum"), F.lit(0.0)), base_attrs,
                    "Summary")
        cnt_r = out(df, F.concat(name, F.lit("_count")),
                    F.concat(desc, F.lit("(Count of samples)")),
                    F.coalesce(F.col("count"), F.lit(0))
                    .cast("double"), base_attrs, "Summary")
        q = F.coalesce(F.col("quantiles"), F.expr("array()").cast(
            "array<struct<q:double,v:double>>"))
        fan = df.withColumn("_qv", F.explode(q))
        qname = F.concat(name, F.lit("_"),
                         _shortest_double(F.col("_qv")["q"]))
        q_entries = F.array(
            F.struct(F.lit("qt").alias("key"),
                     _shortest_double(F.col("_qv")["q"]).alias("value")),
            F.struct(qname.alias("key"),
                     _shortest_double(F.col("_qv")["v"]).alias("value")))
        q_attrs = _merge_last_wins(scope, q_entries, dp_entries)
        q_r = out(fan, qname,
                  F.concat(desc, F.lit("(Count of samples)")),
                  F.col("_qv")["v"], q_attrs, "Summary")
        return sum_r.unionByName(cnt_r).unionByName(q_r)

    raise ValueError(f"unsupported metric_type: {metric_type}")
