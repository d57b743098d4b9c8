"""Azure Monitor (Application Insights) EXPORT translators: OTLP
logs / metrics → AI envelopes
(``exporter/azuremonitorexporter/{log_to_envelope,
metric_to_envelopes,contracts_utils}.go``).

``azuremonitor_log_envelopes`` (log_to_envelope.go:86-101 dispatch):

- Event envelope when ``custom_events_enabled`` and the record has
  ``microsoft.custom_event.name`` or
  ``APPLICATION_INSIGHTS_EVENT_MARKER_ATTRIBUTE`` (:30-48,
  conventions.go:21-22) — the name attr wins in that order; NO
  operation tags and NO resource/scope property merge on this path
- Exception envelope when ``exception_events_enabled`` and the
  record has ``exception.type`` or ``exception.message`` (:103-131):
  problem_id = severity text, one ExceptionDetails from the
  exception.* attrs (Str; stacktrace sets has_full_stack)
- Message envelope otherwise (:51-75): message = body AsString
- severity word ladder (:139-155): 1-8 Verbose, 9-12 Information,
  13-16 Warning, 17-20 Error, 21-24 Critical, else Information
- operation tags = trace/span hex or "" (message + exception paths)
- properties = resource attrs via Str() (non-strings → ""), then
  ``instrumentationlibrary.name``/``.version`` when non-empty, then
  record attrs via AsString — later writes win; rendered sorted CSV
- cloud tags (contracts_utils.go:26-45): ai.cloud.role =
  ``service.namespace + "." + service.name`` or service.name;
  ai.cloud.roleInstance = service.instance.id
- time: RFC3339Nano of ts, else observed ts, else wall-clock Now()
  (:167-177) — the Now() case is NULL here for determinism

``azuremonitor_metric_envelopes`` (metric_to_envelopes.go:30-238):
one envelope per datapoint; scalar points are Measurement kind with
count=1 (EMPTY value → 0); histogram / exponential histogram /
summary are Aggregation kind carrying sum/count (+min/max when
present, never for summary); properties/cloud tags as above but
with the DATAPOINT attrs.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .syslog_export import _rfc3339nano

EVENT_NAME_ATTR = "microsoft.custom_event.name"
EVENT_MARKER_ATTR = "APPLICATION_INSIGHTS_EVENT_MARKER_ATTRIBUTE"

_ENT_T = "struct<key:string,value:string>"
_EMPTY_ENTS = f"array<{_ENT_T}>"


def _severity_word(sn: Column) -> Column:
    return (F.when((sn >= 1) & (sn <= 8), F.lit("Verbose"))
            .when((sn >= 13) & (sn <= 16), F.lit("Warning"))
            .when((sn >= 17) & (sn <= 20), F.lit("Error"))
            .when((sn >= 21) & (sn <= 24), F.lit("Critical"))
            .otherwise(F.lit("Information")))


def _props_csv(*ent_arrays: Column) -> Column:
    ents = F.concat(*ent_arrays)
    dedup = F.filter(
        ents,
        lambda x, i: ~F.exists(
            F.slice(ents, i + 2,
                    F.greatest(F.size(ents) - i - 1, F.lit(0))),
            lambda y: y["key"] == x["key"]))
    return F.array_join(F.array_sort(F.transform(
        dedup, lambda e: F.concat(e["key"], F.lit("="),
                                  F.coalesce(e["value"], F.lit(""))))),
        ",")


def _ents(m: Column) -> Column:
    return F.map_entries(F.coalesce(
        m, F.expr("map()").cast("map<string,string>")))


def _scope_ents(scope_name: Column, scope_version: Column) -> Column:
    def one(cond, key, val):
        return F.when(cond, F.array(F.struct(
            F.lit(key).alias("key"), val.alias("value")))).otherwise(
            F.expr("array()").cast(_EMPTY_ENTS))

    return F.concat(
        one(scope_name != "", "instrumentationlibrary.name",
            scope_name),
        one(scope_version != "", "instrumentationlibrary.version",
            scope_version))


def _cloud_role(res: Column) -> Column:
    svc = res["service.name"]
    ns = res["service.namespace"]
    return F.when(svc.isNotNull(),
                  F.when(ns.isNotNull(), F.concat(ns, F.lit("."), svc))
                  .otherwise(svc))


def azuremonitor_log_envelopes(
    df: DataFrame,
    *,
    id_cols: list[str],
    custom_events_enabled: bool = False,
    exception_events_enabled: bool = False,
    body_col: str = "body",
    ts_ns_col: str = "ts_ns",
    observed_ts_ns_col: str = "observed_ts_ns",
    trace_id_col: str = "trace_id",
    span_id_col: str = "span_id",
    severity_number_col: str = "severity_number",
    severity_text_col: str = "severity_text",
    attrs_col: str = "attrs",
    res_attrs_col: str = "res_attrs",
    scope_name_col: str = "scope_name",
    scope_version_col: str = "scope_version",
) -> DataFrame:
    attrs = F.col(attrs_col)
    res = F.col(res_attrs_col)
    a_ents = _ents(attrs)
    props_full = _props_csv(
        _ents(res),
        _scope_ents(F.coalesce(F.col(scope_name_col), F.lit("")),
                    F.coalesce(F.col(scope_version_col), F.lit(""))),
        a_ents)

    is_event = (F.lit(custom_events_enabled)
                & (attrs[EVENT_NAME_ATTR].isNotNull()
                   | attrs[EVENT_MARKER_ATTR].isNotNull()))
    is_exception = (F.lit(exception_events_enabled)
                    & (attrs["exception.type"].isNotNull()
                       | attrs["exception.message"].isNotNull()))

    kind = (F.when(is_event, F.lit("Event"))
            .when(is_exception, F.lit("Exception"))
            .otherwise(F.lit("Message")))
    sev = _severity_word(F.coalesce(F.col(severity_number_col),
                                    F.lit(0)))
    ts = F.when(F.coalesce(F.col(ts_ns_col), F.lit(0)) != 0,
                F.col(ts_ns_col)).otherwise(
        F.when(F.coalesce(F.col(observed_ts_ns_col), F.lit(0)) != 0,
               F.col(observed_ts_ns_col)))

    stack = attrs["exception.stacktrace"]
    return df.select(
        *id_cols,
        kind.alias("kind"),
        F.concat(F.lit("Microsoft.ApplicationInsights."), kind)
        .alias("envelope_name"),
        F.when(ts.isNotNull(), _rfc3339nano(ts)).alias("time"),
        F.when(kind != "Event",
               F.coalesce(F.col(trace_id_col), F.lit("")))
        .alias("op_id"),
        F.when(kind != "Event",
               F.coalesce(F.col(span_id_col), F.lit("")))
        .alias("op_parent_id"),
        F.when(kind != "Event", _cloud_role(res)).alias("cloud_role"),
        F.when(kind != "Event", res["service.instance.id"])
        .alias("cloud_role_instance"),
        F.when(kind != "Event", sev).alias("severity_level"),
        F.when(kind == "Event",
               F.coalesce(attrs[EVENT_NAME_ATTR],
                          attrs[EVENT_MARKER_ATTR]))
        .alias("event_name"),
        F.when(kind == "Message",
               F.coalesce(F.col(body_col), F.lit("")))
        .alias("message"),
        F.when(kind == "Exception",
               F.coalesce(F.col(severity_text_col), F.lit("")))
        .alias("problem_id"),
        F.when(kind == "Exception",
               F.coalesce(attrs["exception.message"], F.lit("")))
        .alias("exc_message"),
        F.when(kind == "Exception",
               F.coalesce(attrs["exception.type"], F.lit("")))
        .alias("exc_type"),
        F.when(kind == "Exception", stack.isNotNull())
        .alias("exc_has_full_stack"),
        F.when(kind == "Exception", F.coalesce(stack, F.lit("")))
        .alias("exc_stack"),
        F.when(kind == "Event", _props_csv(a_ents))
        .otherwise(props_full).alias("properties"),
    )


def azuremonitor_metric_envelopes(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    mtype = F.col("mtype")
    res = F.col("res_attrs")
    is_int = F.col("is_int")
    scalar = mtype.isin("gauge", "sum")
    agg = mtype.isin("histogram", "exphist", "summary")

    # ungated pdata getters: Sum()/Min()/Max() return 0 when unset
    value = F.when(
        scalar,
        F.when(is_int.isNull(), F.lit(0.0))        # EMPTY -> 0
        .when(is_int, F.col("vint").cast("double"))
        .otherwise(F.col("vdouble"))) \
        .otherwise(F.coalesce(F.col("sum"), F.lit(0.0)))

    return df.where(scalar | agg).select(
        *id_cols,
        F.col("name").alias("name"),
        _rfc3339nano(F.col("ts_ns")).alias("time"),
        value.cast("double").alias("value"),
        F.when(scalar, F.lit(1)).otherwise(F.col("count"))
        .cast("bigint").alias("dp_count"),
        F.when(scalar, F.lit("Measurement"))
        .otherwise(F.lit("Aggregation")).alias("dp_kind"),
        F.when(agg & ~(mtype == "summary"),
               F.coalesce(F.col("min"), F.lit(0.0)))
        .alias("dp_min"),
        F.when(agg & ~(mtype == "summary"),
               F.coalesce(F.col("max"), F.lit(0.0)))
        .alias("dp_max"),
        _cloud_role(res).alias("cloud_role"),
        res["service.instance.id"].alias("cloud_role_instance"),
        _props_csv(
            _ents(res),
            _scope_ents(F.coalesce(F.col("scope_name"), F.lit("")),
                        F.coalesce(F.col("scope_version"),
                                   F.lit(""))),
            _ents(F.col("attrs"))).alias("properties"),
    )
