"""Kubernetes core/v1 Event → log-record translation.

Re-expresses ``receiver/k8seventsreceiver``'s conversion
(k8s_event_to_logdata.go:32-83, receiver.go:138-160) over DataFrames
of event JSON (one API object per row):

- timestamp priority eventTime > lastTimestamp > firstTimestamp
  (getEventTimestamp, receiver.go:148-160); eventTime is
  RFC3339Micro, the other two RFC3339;
- severity from lower(type): normal→INFO(9), warning→WARN(13); any
  other type leaves severity unset (0, null text)
  (k8s_event_to_logdata.go:26-29,58-64);
- body = message; resource attrs from source.host + involvedObject;
  log attrs from reason/action/metadata + involvedObject.namespace;
  Go's zero-value unmarshal makes absent strings "" — mirrored with
  coalesce;
- ``k8s.event.start_time`` is Go's ``metav1.Time.String()`` of
  metadata.creationTimestamp: "2006-01-02 15:04:05 +0000 UTC"
  (zero time → "0001-01-01 00:00:00 +0000 UTC");
- ``k8s.event.count`` only when count != 0 (:78-81) — absent JSON
  count unmarshals to 0 and is omitted;
- optional ``start_ts`` replays allowEvent (receiver.go:138-143):
  keep events whose timestamp is not before the receiver start; an
  event with no timestamp at all is Go's zero time and always drops.

Pure Column logic: one schema-pruned ``from_json``, no shuffle, no
Python row path — the translation is embarrassingly parallel and
scales with input partitions.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEMA = (
    "struct<"
    "metadata struct<name:string,uid:string,creationTimestamp:string>,"
    "involvedObject struct<kind:string,name:string,uid:string,"
    "  fieldPath:string,apiVersion:string,resourceVersion:string,"
    "  namespace:string>,"
    "source struct<host:string>,"
    "type string, reason string, action string, message string,"
    "count int,"
    "eventTime string, lastTimestamp string, firstTimestamp string>"
)

_GO_ZERO_TIME = "0001-01-01 00:00:00 +0000 UTC"


def _rfc(s: Column) -> Column:
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
    )


def _s(c: Column) -> Column:
    return F.coalesce(c, F.lit(""))


def k8s_events_to_logs(
    df: DataFrame, start_ts: int | None = None
) -> DataFrame:
    """corev1 Event JSON rows → one log row each (flat columns)."""
    passthrough = [c for c in df.columns if c != "body"]
    p = df.select(
        *passthrough, F.from_json(F.col("body"), _SCHEMA).alias("e")
    )
    ev = F.col("e")
    ts = F.coalesce(
        _rfc(ev["eventTime"]), _rfc(ev["lastTimestamp"]),
        _rfc(ev["firstTimestamp"]),
    )
    if start_ts is not None:
        p = p.where(ts.isNotNull() & (ts >= F.timestamp_seconds(
            F.lit(start_ts))))
    sev = F.lower(_s(ev["type"]))
    created = _rfc(ev["metadata"]["creationTimestamp"])
    obj = ev["involvedObject"]
    return p.select(
        *passthrough,
        (F.unix_micros(ts) * 1000).alias("ke_ts_ns"),
        _s(ev["message"]).alias("ke_body"),
        F.when(sev == "normal", 9).when(sev == "warning", 13)
        .otherwise(0).alias("ke_sev_num"),
        F.when(sev.isin("normal", "warning"), ev["type"])
        .alias("ke_sev_text"),
        _s(ev["source"]["host"]).alias("ke_node"),
        _s(obj["kind"]).alias("ke_object_kind"),
        _s(obj["name"]).alias("ke_object_name"),
        _s(obj["uid"]).alias("ke_object_uid"),
        _s(obj["fieldPath"]).alias("ke_object_fieldpath"),
        _s(obj["apiVersion"]).alias("ke_object_api_version"),
        _s(obj["resourceVersion"]).alias("ke_object_resource_version"),
        _s(ev["reason"]).alias("ke_reason"),
        _s(ev["action"]).alias("ke_action"),
        F.when(
            created.isNotNull(),
            F.concat(F.date_format(created, "yyyy-MM-dd HH:mm:ss"),
                     F.lit(" +0000 UTC")),
        ).otherwise(F.lit(_GO_ZERO_TIME)).alias("ke_start_time"),
        _s(ev["metadata"]["name"]).alias("ke_name"),
        _s(ev["metadata"]["uid"]).alias("ke_uid"),
        _s(obj["namespace"]).alias("ke_namespace"),
        F.when(
            ev["count"].isNotNull() & (ev["count"] != 0),
            ev["count"].cast("bigint"),
        ).alias("ke_count"),
    )
