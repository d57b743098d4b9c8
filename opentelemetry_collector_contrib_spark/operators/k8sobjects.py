"""Kubernetes object (pull/watch) → log-record translation.

Re-expresses ``receiver/k8sobjectsreceiver``'s conversion
(unstructured_to_logdata.go:19-99) over DataFrames of object JSON:

- body = the full object map; pcommon's ``Map.FromRaw`` + OTLP JSON
  render sorted keys, matched bit-exactly by
  ``to_json(try_parse_json(...))`` (Spark VARIANT sorts object keys);
- pull mode: one row per listed object, namespace =
  metadata.namespace ("" when absent, getNamespace :85-95);
- watch mode: the consumed body is ``{"object": <obj>, "type":
  <watch.EventType>}`` (:25-31); namespace comes from
  object.metadata.namespace; ``event.domain``/``event.name`` attrs
  are added only when metadata.name is non-empty (:34-41);
- every record: observedTimestamp = receive time (param),
  ``k8s.resource.name`` = the requested GVR resource (param).

The reference groups records into one ResourceLogs per namespace —
represented relationally by the ``ko_namespace`` column (grouping is
a downstream concern; no shuffle needed here).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k8s_objects_to_logs(
    df: DataFrame,
    mode: str = "pull",
    resource: str = "pods",
    observed_ts: int = 0,
) -> DataFrame:
    """Object JSON rows → one log row each.

    ``mode='watch'`` expects each row to be a watch event
    ``{"type": ..., "object": {...}}``; ``mode='pull'`` a bare object.
    """
    if mode not in ("pull", "watch"):
        raise ValueError(f"unknown k8sobjects mode {mode!r}")
    passthrough = [c for c in df.columns if c != "body"]
    v = F.try_parse_json(F.col("body"))
    if mode == "watch":
        ns = F.try_variant_get(v, "$.object.metadata.namespace", "string")
        name = F.try_variant_get(v, "$.object.metadata.name", "string")
        has_name = name.isNotNull() & (name != "")
        domain = F.when(has_name, F.lit("k8s"))
        ev_name = F.when(has_name, name)
    else:
        ns = F.try_variant_get(v, "$.metadata.namespace", "string")
        domain = F.lit(None).cast("string")
        ev_name = F.lit(None).cast("string")
    return df.select(
        *passthrough,
        F.coalesce(ns, F.lit("")).alias("ko_namespace"),
        (F.lit(observed_ts) * F.lit(1000000000).cast("bigint"))
        .alias("ko_observed_ns"),
        F.lit(resource).alias("ko_resource"),
        domain.alias("ko_event_domain"),
        ev_name.alias("ko_event_name"),
        F.to_json(v).alias("ko_body"),
    )
