"""BMC Helix EXPORT translator: OTLP gauge/sum datapoints -> Helix
Operations Management metric payloads
(``exporter/bmchelixexporter/internal/operationsmanagement/
metrics_producer.go``).

Per datapoint (:218-326): labels = source=OTEL <- resource attrs <-
unit/hostType=server/isDeviceMappingEnabled=true/metricName <-
datapoint attrs (later wins at each arrow), then the entity block:
hostname from resource host.name else the datapoint attr (REQUIRED —
missing hostname dead-letters the row), entityTypeId / entityName
from the dp-attrs-overlaid-by-resource merge (both required),
instanceName defaulting to entityName, entityName colon trim+strip,
entityId = "OTEL:<hostname>:<entityTypeId>:<entityName>".  Samples
carry the int-else-double value and second-truncated ms timestamps.

Then three payload-level passes, replayed as distributed plans:

- enrichMetricNamesWithAttributes (:344-420) — within each
  (metric, entityId) group, label keys outside the core set with
  MORE THAN ONE distinct value become identifying keys (sorted);
  rows with a non-empty suffix get metricName += "." + values and
  the identifying keys deleted.  One exploded-entries groupBy
  + an equi join back — keyed by (metric, entityId), scale-safe.
  The "raw copy" the reference also emits is dropped upstream by
  the entityTypeId gate (ProduceHelixPayload:97-101) and is not
  materialized here.
- addPercentageVariants (:434-486) — unit "1" rows clone to
  <name>.percent (a trailing "ratio" becomes "percent"), unit "%",
  value x100.
- rate variants (:198-215, :489-535) — monotonic-sum rows (incl.
  their percent clones, which inherit the flag) emit a ".rate" /
  unit+"/s" row from the PREVIOUS sample of the same
  (entityId, metricName) key: a lag window per key; negative deltas
  clamp to 0, non-increasing timestamps produce nothing.  The
  reference keeps this state across batches in a process-local map;
  here the window scopes it to the batch (the streaming twin of
  this engine would carry it in state-store form).
- parent container entities (:109-138) — every surviving row gains
  parentEntityName/parentEntityTypeId = "<entityTypeId>_container",
  and one identity row per distinct (source, hostname,
  entityTypeId) parent is emitted (no samples).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

CORE_ATTRS = ["source", "unit", "hostType", "isDeviceMappingEnabled",
              "metricName", "hostname", "entityTypeId", "entityName",
              "instanceName", "entityId"]
_ENTRY_T = "array<struct<key:string,value:string>>"


def _entries(m: Column) -> Column:
    return F.coalesce(F.map_entries(m), F.expr("array()")
                      .cast(_ENTRY_T))


def _last_wins(*arrays: Column) -> Column:
    """Last-occurrence-wins entry dedup in O(k log k): tag each entry
    with its index, sort by (key, index), keep the last entry of each
    equal-key run via one shifted zip_with — higher-order functions
    run interpreted, so the naive reverse+exists O(k^2) scan is the
    dominant cost of this operator at scale (measured 4x on the
    label build)."""
    ents = F.concat(*arrays)
    idxed = F.transform(
        ents, lambda e, i: F.struct(e["key"].alias("k"), i.alias("i"),
                                    e["value"].alias("v")))
    srt = F.array_sort(idxed)
    shifted = F.concat(
        F.slice(srt, 2, F.greatest(F.size(srt) - 1, F.lit(0))),
        F.array(F.lit(None).cast(
            "struct<k:string,i:int,v:string>")))
    kept = F.filter(
        F.zip_with(srt, shifted,
                   lambda a, b: F.when(
                       b.isNull() | (b["k"] != a["k"]),
                       F.struct(a["k"].alias("key"),
                                a["v"].alias("value")))),
        lambda x: x.isNotNull())
    return F.map_from_entries(kept)


def helix_metrics(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    """One input row per number datapoint; ``metric_group`` identifies
    which rows came from the same pmetric.Metric (the enrich pass
    scopes to it)."""
    res = F.col("res_attrs")
    attrs = F.col("attrs")
    name = F.coalesce(F.col("metric_name"), F.lit(""))
    unit = F.coalesce(F.col("unit"), F.lit(""))
    monotonic = (F.coalesce(F.col("metric_type"), F.lit(""))
                 == "sum") & F.coalesce(F.col("is_monotonic"),
                                        F.lit(False))

    vt = F.coalesce(F.col("value_type"), F.lit(0)).cast("int")
    value = (F.when(vt == 1, F.col("value_int").cast("double"))
             .when(vt == 2, F.col("value_double"))
             .otherwise(F.lit(0.0)))
    ts_ms = (F.floor(F.coalesce(F.col("ts_ns"), F.lit(0))
                     / 1_000_000_000) * 1000).cast("bigint")

    hostname = F.coalesce(
        F.nullif(F.element_at(res, F.lit("host.name")), F.lit("")),
        F.nullif(F.element_at(attrs, F.lit("host.name")), F.lit("")))
    # STAGED: the last-wins merges are higher-order-function trees
    # (no whole-stage codegen); letting one inline into four
    # element_at consumers and the label build re-evaluates the
    # O(k^2) interpreted dedup ~8x per row (measured 98 s -> 5 s at
    # sf0.1). Each merge is computed exactly once as a column.
    pre = df.select(
        "*",
        # stringMetricAttrs: dp attrs overlaid by resource (:270-279)
        _last_wins(_entries(attrs), _entries(res)).alias("_merged"),
        hostname.alias("_host"),
    )
    m = F.col("_merged")
    etype = F.nullif(F.element_at(m, F.lit("entityTypeId")),
                     F.lit(""))
    ename_raw = F.nullif(F.element_at(m, F.lit("entityName")),
                         F.lit(""))
    pre2 = pre.select(
        "*",
        etype.alias("_etype"), ename_raw.alias("_ename_raw"),
        F.coalesce(
            F.nullif(F.element_at(m, F.lit("instanceName")),
                     F.lit("")), ename_raw).alias("_iname"),
        F.regexp_replace(
            F.regexp_replace(ename_raw, "^:+|:+$", ""), ":", "")
        .alias("_ename"),
    )
    err = (F.col("_host").isNull() | F.col("_etype").isNull()
           | F.col("_ename_raw").isNull())
    entity_id = F.concat(F.lit("OTEL:"), F.col("_host"), F.lit(":"),
                         F.col("_etype"), F.lit(":"), F.col("_ename"))
    static_entries = F.array(
        F.struct(F.lit("unit").alias("key"), unit.alias("value")),
        F.struct(F.lit("hostType").alias("key"),
                 F.lit("server").alias("value")),
        F.struct(F.lit("isDeviceMappingEnabled").alias("key"),
                 F.lit("true").alias("value")),
        F.struct(F.lit("metricName").alias("key"),
                 name.alias("value")))
    entity_entries = F.array(
        F.struct(F.lit("hostname").alias("key"),
                 F.col("_host").alias("value")),
        F.struct(F.lit("entityTypeId").alias("key"),
                 F.col("_etype").alias("value")),
        F.struct(F.lit("entityName").alias("key"),
                 F.col("_ename").alias("value")),
        F.struct(F.lit("instanceName").alias("key"),
                 F.col("_iname").alias("value")),
        F.struct(F.lit("entityId").alias("key"),
                 entity_id.alias("value")))
    labels = _last_wins(
        F.array(F.struct(F.lit("source").alias("key"),
                         F.lit("OTEL").alias("value"))),
        _entries(res), static_entries, _entries(attrs),
        entity_entries)

    # localCheckpoint: _labels is consumed by both the
    # exploded-entries groupBy and the join-back side
    stage1 = pre2.filter(~err).select(
        *id_cols,
        F.col("metric_group").alias("_grp"),
        labels.alias("_labels"), entity_id.alias("_eid"),
        value.alias("_v"), ts_ms.alias("_ts"),
        monotonic.alias("_flag"),
    ).localCheckpoint()

    # --- enrich pass (:344-420) ---------------------------------------
    ent = stage1.select(
        "_grp", "_eid",
        F.explode(F.map_entries(F.col("_labels")))
        .alias("_e")).select(
        "_grp", "_eid", F.col("_e")["key"].alias("_k"),
        F.col("_e")["value"].alias("_val"))
    idk = (ent.filter(~F.col("_k").isin(*CORE_ATTRS))
           .groupBy("_grp", "_eid", "_k")
           .agg(F.countDistinct("_val").alias("_nv"))
           .filter(F.col("_nv") > 1)
           .groupBy("_grp", "_eid")
           .agg(F.array_sort(F.collect_list("_k")).alias("_idk")))
    stage2 = stage1.join(idk, ["_grp", "_eid"], "left")
    idkeys = F.coalesce(F.col("_idk"),
                        F.expr("array()").cast("array<string>"))
    suffix = F.filter(
        F.transform(idkeys,
                    lambda k: F.element_at(F.col("_labels"), k)),
        lambda v: v.isNotNull())
    lbl = F.col("_labels")
    new_name = F.when(
        F.size(suffix) > 0,
        F.concat(F.element_at(lbl, F.lit("metricName")), F.lit("."),
                 F.array_join(suffix, "."))) \
        .otherwise(F.element_at(lbl, F.lit("metricName")))
    lbl2 = F.map_filter(
        F.map_from_entries(F.concat(
            F.filter(F.map_entries(lbl),
                     lambda e: e["key"] != "metricName"),
            F.array(F.struct(F.lit("metricName").alias("key"),
                             new_name.alias("value"))))),
        lambda k, _v: ~F.when(F.size(suffix) > 0,
                              F.array_contains(idkeys, k))
        .otherwise(F.lit(False)))
    stage2 = stage2.select(
        *id_cols, "_grp", "_eid", lbl2.alias("_labels"),
        "_v", "_ts", "_flag").localCheckpoint()

    # --- percentage variants (:434-486) -------------------------------
    get = lambda k: F.element_at(F.col("_labels"), F.lit(k))  # noqa
    is_ratio = F.coalesce(get("unit") == "1", F.lit(False))
    pct_name = F.when(get("metricName").endswith(".percent"),
                      get("metricName")) \
        .when(get("metricName").endswith("ratio"),
              F.concat(F.expr(
                  "substring(element_at(_labels, 'metricName'), 1, "
                  "length(element_at(_labels, 'metricName')) - 5)"),
                  F.lit("percent"))) \
        .otherwise(F.concat(get("metricName"), F.lit(".percent")))
    pct = stage2.filter(is_ratio).select(
        *id_cols, "_grp", "_eid",
        F.map_from_entries(F.concat(
            F.filter(F.map_entries(F.col("_labels")),
                     lambda e: ~e["key"].isin("metricName", "unit")),
            F.array(F.struct(F.lit("metricName").alias("key"),
                             pct_name.alias("value")),
                    F.struct(F.lit("unit").alias("key"),
                             F.lit("%").alias("value")))))
        .alias("_labels"),
        (F.col("_v") * 100).alias("_v"), "_ts", "_flag")
    all_rows = stage2.unionByName(pct)

    # --- rate variants (:489-535) -------------------------------------
    w = Window.partitionBy(
        F.col("_eid"),
        F.element_at(F.col("_labels"), F.lit("metricName"))) \
        .orderBy("_ts")
    flagged = all_rows.withColumn("_pv", F.lag("_v").over(w)) \
        .withColumn("_pt", F.lag("_ts").over(w))
    rate_ok = F.col("_flag") & F.col("_pt").isNotNull() \
        & (F.col("_ts") > F.col("_pt"))
    delta_v = F.greatest(F.col("_v") - F.col("_pv"), F.lit(0.0))
    rate = delta_v / ((F.col("_ts") - F.col("_pt")) / 1000.0)
    rates = flagged.filter(rate_ok).select(
        *id_cols, "_grp", "_eid",
        F.map_from_entries(F.concat(
            F.filter(F.map_entries(F.col("_labels")),
                     lambda e: ~e["key"].isin("metricName", "unit")),
            F.array(F.struct(
                F.lit("metricName").alias("key"),
                F.concat(F.element_at(F.col("_labels"),
                                      F.lit("metricName")),
                         F.lit(".rate")).alias("value")),
                F.struct(F.lit("unit").alias("key"),
                         F.concat(F.element_at(F.col("_labels"),
                                               F.lit("unit")),
                                  F.lit("/s")).alias("value")))))
        .alias("_labels"),
        rate.alias("_v"), F.col("_ts").alias("_ts"),
        F.lit(False).alias("_flag"))
    children = all_rows.drop("_flag").unionByName(
        rates.drop("_flag"))

    # --- parent container entities (:109-138) -------------------------
    getc = lambda df_, k: F.element_at(df_["_labels"], F.lit(k))  # noqa
    ptype = F.concat(F.element_at(F.col("_labels"),
                                  F.lit("entityTypeId")),
                     F.lit("_container"))
    child_out = children.select(
        *id_cols,
        F.lit("metric").alias("row_kind"),
        F.map_from_entries(F.concat(
            F.map_entries(F.col("_labels")),
            F.array(F.struct(F.lit("parentEntityName").alias("key"),
                             ptype.alias("value")),
                    F.struct(F.lit("parentEntityTypeId").alias("key"),
                             ptype.alias("value")))))
        .alias("labels"),
        F.col("_v").alias("value"),
        F.col("_ts").alias("timestamp_ms"),
    )
    parents = children.select(
        F.element_at(F.col("_labels"), F.lit("source"))
        .alias("_src"),
        F.element_at(F.col("_labels"), F.lit("hostname"))
        .alias("_host"),
        F.element_at(F.col("_labels"), F.lit("entityTypeId"))
        .alias("_etype"),
        F.element_at(F.col("_labels"),
                     F.lit("isDeviceMappingEnabled")).alias("_dev"),
        F.element_at(F.col("_labels"), F.lit("hostType"))
        .alias("_ht"),
    ).distinct()
    pptype = F.concat(F.col("_etype"), F.lit("_container"))
    peid = F.concat(F.col("_src"), F.lit(":"), F.col("_host"),
                    F.lit(":"), pptype, F.lit(":"), pptype)
    parent_out = parents.select(
        *[F.lit(None).cast("bigint").alias(c) for c in id_cols],
        F.lit("parent").alias("row_kind"),
        F.map_from_entries(F.array(
            F.struct(F.lit("entityId").alias("key"),
                     peid.alias("value")),
            F.struct(F.lit("entityName").alias("key"),
                     pptype.alias("value")),
            F.struct(F.lit("entityTypeId").alias("key"),
                     pptype.alias("value")),
            F.struct(F.lit("hostname").alias("key"),
                     F.col("_host").alias("value")),
            F.struct(F.lit("source").alias("key"),
                     F.col("_src").alias("value")),
            F.struct(F.lit("isDeviceMappingEnabled").alias("key"),
                     F.col("_dev").alias("value")),
            F.struct(F.lit("hostType").alias("key"),
                     F.col("_ht").alias("value")),
            F.struct(F.lit("metricName").alias("key"),
                     F.lit("identity").alias("value")),
        )).alias("labels"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("bigint").alias("timestamp_ms"),
    )
    return child_out.unionByName(parent_out)
