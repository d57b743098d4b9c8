"""SignalFx v2 datapoint / event translation.

Re-expresses ``pkg/translator/signalfx/to_metrics.go`` (:21-122) and
``receiver/signalfxreceiver/signalfxv2_event_to_logdata.go`` (:17-73)
over DataFrames of SignalFx upload-message JSON (the at-rest form of
the proto the reference's HTTP receiver unmarshals; one
``DataPointUploadMessage`` / ``EventUploadMessage`` per row).
Semantics mirrored and pinned by ``tests/test_round5_signalfx.py``:

datapoints (``signalfx_datapoints_parse``):
- metricType → metric shape: GAUGE (proto default when absent) →
  gauge; COUNTER → monotonic delta sum; CUMULATIVE_COUNTER →
  monotonic cumulative sum (:70-85);
- a datapoint with neither intValue nor doubleValue errors — the
  reference multierr-appends and keeps going (:45-47), so it is a
  dead-letter row here (``sfx_ok`` false), as are ENUM and unknown
  metric types (:87-91);
- intValue wins when both are set (:103-108); timestamps are epoch
  millis → nanos (timestamp.go:15-17); dimensions become attributes
  verbatim, nil entries skipped (:112-122);
- the reference's [metric,type]→index merge map (:29-66) only
  controls how points pack into pmetric.Metric containers — the
  row-per-point form keeps (name, kind) as the grouping identity.

events (``signalfx_events_parse``):
- dimensions → attributes; eventType (default "unknown") →
  ``com.splunk.signalfx.event_type``; category int →
  ``com.splunk.signalfx.event_category`` (attribute present-but-empty
  when the field is absent, :41-48); properties → a sorted compact
  JSON object under ``com.splunk.signalfx.event_properties`` with
  str/int/double/bool tested in that order and a valueless property
  recorded as null (:50-71); timestamps epoch millis → nanos.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .zipkin import _canon, _tok

_DIM = "struct<key:string,value:string>"
_DP_SCHEMA = (
    "struct<datapoints:array<struct<"
    "metric:string,timestamp:long,"
    "value:struct<strValue:string,doubleValue:double,intValue:long>,"
    f"metricType:string,dimensions:array<{_DIM}>>>>"
)
_PROP_VAL = (
    "struct<strValue:string,doubleValue:double,intValue:long,"
    "boolValue:boolean>"
)
_EV_SCHEMA = (
    "struct<events:array<struct<"
    f"eventType:string,dimensions:array<{_DIM}>,"
    f"properties:array<struct<key:string,value:{_PROP_VAL}>>,"
    "category:long,timestamp:long>>>"
)

SFX_EVENT_TYPE = "com.splunk.signalfx.event_type"
SFX_EVENT_CATEGORY = "com.splunk.signalfx.event_category"
SFX_EVENT_PROPERTIES = "com.splunk.signalfx.event_properties"


def _dims_tokens(dims: Column) -> Column:
    arr = F.coalesce(dims, F.from_json(F.lit("[]"), f"array<{_DIM}>"))
    return F.transform(
        F.filter(arr, lambda d: d.isNotNull() & d["key"].isNotNull()),
        lambda d: _tok(d["key"], F.coalesce(d["value"], F.lit(""))),
    )


def signalfx_datapoints_parse(
    df: DataFrame
) -> DataFrame:
    """One DataPointUploadMessage JSON per row → one row per datapoint
    (``sfx_*``)."""
    parsed = df.select(
        "*", F.from_json(F.col("body"), _DP_SCHEMA).alias("_m")
    )
    dp = F.col("_dp")
    rows = (
        parsed.where(
            F.col("_m").isNotNull() & (F.size(F.col("_m")["datapoints"]) > 0)
        )
        .select("*", F.explode(F.col("_m")["datapoints"]).alias("_dp"))
        .where(dp.isNotNull())  # nil datapoint skip (:34-37)
        .drop("_m", "body")
    )

    mtype = F.coalesce(dp["metricType"], F.lit("GAUGE"))  # proto zero value
    kind = (
        F.when(mtype == "GAUGE", "gauge")
        .when(mtype == "COUNTER", "sum_delta")
        .when(mtype == "CUMULATIVE_COUNTER", "sum_cumulative")
    )
    iv, dv = dp["value"]["intValue"], dp["value"]["doubleValue"]
    has_value = iv.isNotNull() | dv.isNotNull()
    staged = rows.select(
        "*",
        F.coalesce(dp["metric"], F.lit("")).alias("sfx_metric"),
        F.coalesce(kind, F.lit("error")).alias("sfx_kind"),
        (F.coalesce(dp["timestamp"], F.lit(0)) * 1000000).alias("sfx_ts_ns"),
        # fillNumberDataPoint: intValue wins when both set (:103-108)
        iv.alias("sfx_int_value"),
        F.when(iv.isNull(), dv).alias("sfx_double_value"),
        _dims_tokens(dp["dimensions"]).alias("_sfx_toks"),
        (kind.isNotNull() & has_value).alias("sfx_ok"),
    ).drop("_dp")
    return staged.select(
        "*", _canon(F.col("_sfx_toks")).alias("sfx_attrs")
    ).drop("_sfx_toks")


def _prop_json(value: Column) -> Column:
    """Property value → JSON scalar, str/int/double/bool tested in the
    reference's order (:56-69); no value → null."""
    return (
        F.when(
            value["strValue"].isNotNull(),
            F.to_json(F.struct(value["strValue"].alias("v"))).substr(
                F.lit(6), F.length(F.to_json(F.struct(value["strValue"].alias("v")))) - 6
            ),
        )
        .when(value["intValue"].isNotNull(), value["intValue"].cast("string"))
        .when(
            value["doubleValue"].isNotNull(),
            value["doubleValue"].cast("string"),
        )
        .when(
            value["boolValue"].isNotNull(),
            F.when(value["boolValue"], "true").otherwise("false"),
        )
        .otherwise(F.lit("null"))
    )


def signalfx_events_parse(df: DataFrame) -> DataFrame:
    """One EventUploadMessage JSON per row → one log row per event."""
    parsed = df.select(
        "*", F.from_json(F.col("body"), _EV_SCHEMA).alias("_m")
    )
    ev = F.col("_ev")
    rows = (
        parsed.where(
            F.col("_m").isNotNull() & (F.size(F.col("_m")["events"]) > 0)
        )
        .select("*", F.explode(F.col("_m")["events"]).alias("_ev"))
        .where(ev.isNotNull())
        .drop("_m", "body")
    )

    etype = F.when(
        F.coalesce(ev["eventType"], F.lit("")) == "", F.lit("unknown")
    ).otherwise(ev["eventType"])
    props = F.coalesce(
        ev["properties"],
        F.from_json(
            F.lit("[]"), f"array<struct<key:string,value:{_PROP_VAL}>>"
        ),
    )
    prop_body = F.array_join(
        F.array_sort(
            F.transform(
                props,
                lambda p: F.concat(
                    F.lit('"'), p["key"], F.lit('":'), _prop_json(p["value"])
                ),
            )
        ),
        ",",
    )
    toks = F.concat(
        _dims_tokens(ev["dimensions"]),
        F.array(_tok(F.lit(SFX_EVENT_TYPE), etype)),
        F.array(
            _tok(
                F.lit(SFX_EVENT_CATEGORY),
                F.coalesce(ev["category"].cast("string"), F.lit("")),
            )
        ),
        F.when(
            F.size(props) > 0,
            F.array(
                _tok(
                    F.lit(SFX_EVENT_PROPERTIES),
                    F.concat(F.lit("{"), prop_body, F.lit("}")),
                )
            ),
        ).otherwise(F.from_json(F.lit("[]"), "array<string>")),
    )
    staged = rows.select(
        "*",
        (F.coalesce(ev["timestamp"], F.lit(0)) * 1000000).alias("sfe_ts_ns"),
        ev["category"].alias("sfe_category"),
        toks.alias("_sfe_toks"),
    ).drop("_ev")
    return staged.select(
        "*", _canon(F.col("_sfe_toks")).alias("sfe_attrs")
    ).drop("_sfe_toks")
