"""AWS EMF EXPORT translator: OTLP metric datapoints → CloudWatch
Embedded-Metric-Format log events
(``exporter/awsemfexporter/{metric_translator,grouped_metric,
datapoint,util}.go``).

Spark-first shape: the reference accumulates a per-batch
``groupedMetrics`` map keyed on (labels, namespace, metric type); here
that is ONE ``groupBy`` over the same key with a map-side-combined
``collect_list`` of the member metrics. Per rule:

- labels = datapoint attrs (AsString) + ``OTelLib`` = the scope name
  when non-empty (datapoint.go:509-523); the
  ``aws.emf.storage_resolution`` label is excluded from fields and
  dimensions but drives StorageResolution (metric_translator.go:
  246-260, :495-503)
- namespace = config override, else service.namespace "/"
  service.name, else either alone, else "default" (util.go:61-80);
  log group = ``/metrics/<namespace>``, log stream = the default
  stream (config log-name patterns are deployment config, out of
  scope); EMF timestamp is time.Now() per batch in the reference —
  a caller-supplied ``timestamp_ms`` here for determinism
- gauge/sum values: NaN/±Inf points dropped (datapoint.go IsStale
  NaNInf); int values render without a decimal point, like Go's
  json.Marshal; histogram → {"Max","Min","Count","Sum"} stats object
  (:190-207 — plain histograms carry stats, not buckets), summary →
  the same stats shape (batch-local; the cross-batch delta
  calculators correspond to this engine's metricstarttime /
  cumulative_to_delta operators)
- duplicate metric names within a group are dropped
  (grouped_metric.go "Duplicate metric found") — kept
  deterministically here (first after sort) where the reference
  keeps batch order
- measurement: Namespace + Dimensions + Metrics
  [{"Name","Unit","StorageResolution"}] (struct order; Unit ""
  included); the full label set is one dimension set, plus
  DimensionRollup: zero (``[OTelLib]`` when present, emitted only
  when other labels exist) and per-label singles for
  ZeroAndSingleDimensionRollup / SingleDimensionRollupOnly; the full
  set is removed when ≤1 non-OTelLib label under single rollup
  (:212-267); Go iterates its label map randomly — dimension sets
  and Metrics render SORTED here, a deterministic refinement
- the `prom_metric_type` field is added when the resource came from
  the prometheus receiver (:30-43, :188-190)
- EMF v1 body: fields + "Version":"1" + "_aws":{CloudWatchMetrics,
  Timestamp}; v0: flat "Version":"0" + CloudWatchMetrics +
  stringified Timestamp (:414-457); JSON keys sorted like Go's
  json.Marshal of a map

Metric declarations (config-driven measurement filters,
:271-379) are deployment configuration — composable from the
engine's filter operators; out of scope here.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cloudwatch_export import _jstr

OTELLIB = "OTelLib"
STORAGE_RES_ATTR = "aws.emf.storage_resolution"
DEFAULT_NAMESPACE = "default"

_ENT_T = "struct<key:string,value:string>"


def _num(c: Column) -> Column:
    """Go json.Marshal float64/int64 rendering (trailing .0 dropped)."""
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def awsemf_events(
    df: DataFrame,
    *,
    timestamp_ms: int,
    namespace: str = "",
    version: str = "1",
    dimension_rollup: str = "ZeroAndSingleDimensionRollup",
    default_log_stream: str = "otel-stream",
    name_col: str = "name",
    unit_col: str = "unit",
    mtype_col: str = "mtype",
    scope_name_col: str = "scope_name",
    attrs_col: str = "attrs",
    res_attrs_col: str = "res_attrs",
    is_int_col: str = "is_int",
    vint_col: str = "vint",
    vdouble_col: str = "vdouble",
    count_col: str = "count",
    sum_col: str = "sum",
    min_col: str = "min",
    max_col: str = "max",
) -> DataFrame:
    res = F.col(res_attrs_col)
    mtype = F.col(mtype_col)
    scope = F.coalesce(F.col(scope_name_col), F.lit(""))
    attrs = F.coalesce(F.col(attrs_col),
                       F.expr("map()").cast("map<string,string>"))

    ns = (F.lit(namespace) if namespace else
          F.when(res["service.name"].isNotNull()
                 & res["service.namespace"].isNotNull(),
                 F.concat(res["service.namespace"], F.lit("/"),
                          res["service.name"]))
          .when(res["service.name"].isNotNull(), res["service.name"])
          .when(res["service.namespace"].isNotNull(),
                res["service.namespace"])
          .otherwise(F.lit(DEFAULT_NAMESPACE)))

    labels = F.when(
        scope != "",
        F.map_concat(attrs, F.create_map(F.lit(OTELLIB), scope))) \
        .otherwise(attrs)
    label_ents = F.array_sort(F.map_entries(labels))
    labels_csv = F.array_join(F.transform(
        label_ents, lambda e: F.concat(e["key"], F.lit("="),
                                       e["value"])), ",")

    is_int = F.col(is_int_col)
    nan_inf = lambda c: (  # noqa: E731
        F.isnan(F.coalesce(c, F.lit(0.0)))
        | (F.coalesce(c, F.lit(0.0)) == float("inf"))
        | (F.coalesce(c, F.lit(0.0)) == float("-inf")))
    scalar = mtype.isin("gauge", "sum")
    stats = mtype.isin("histogram", "summary")
    dropped = F.when(
        scalar, F.when(is_int, F.lit(False))
        .otherwise(nan_inf(F.col(vdouble_col)))) \
        .otherwise(nan_inf(F.col(sum_col)) | nan_inf(F.col(min_col))
                   | nan_inf(F.col(max_col)))

    # rendered JSON value per point (cWMetricStats field order)
    vjson = F.when(
        scalar,
        F.when(is_int, F.col(vint_col).cast("string"))
        .otherwise(_num(F.col(vdouble_col)))) \
        .when(stats, F.concat(
            F.lit('{"Max":'), _num(F.coalesce(F.col(max_col),
                                              F.lit(0.0))),
            F.lit(',"Min":'), _num(F.coalesce(F.col(min_col),
                                              F.lit(0.0))),
            F.lit(',"Count":'), F.coalesce(F.col(count_col), F.lit(0))
            .cast("string"),
            F.lit(',"Sum":'), _num(F.coalesce(F.col(sum_col),
                                              F.lit(0.0))),
            F.lit("}")))

    receiver = F.coalesce(res["receiver"], F.lit(""))
    grouped = (
        df.where((mtype != "empty") & (mtype != "exphist") & ~dropped
                 & vjson.isNotNull())
        .select(
            ns.alias("_ns"), mtype.alias("_mt"),
            labels_csv.alias("_lk"), receiver.alias("_recv"),
            label_ents.alias("_lents"),
            F.struct(F.col(name_col).alias("name"),
                     F.coalesce(F.col(unit_col), F.lit(""))
                     .alias("unit"),
                     vjson.alias("vjson")).alias("_m"))
        .groupBy("_ns", "_mt", "_lk", "_recv")
        .agg(F.first("_lents").alias("_lents"),
             F.array_sort(F.collect_list("_m")).alias("_mets")))

    mets = F.col("_mets")
    # duplicate-name drop, first after sort
    mets = F.filter(
        mets,
        lambda x, i: ~F.exists(F.slice(mets, F.lit(1), i),
                               lambda y: y["name"] == x["name"]))
    lents = F.col("_lents")
    vis_ents = F.filter(lents,
                        lambda e: e["key"] != STORAGE_RES_ATTR)
    stor_res = F.coalesce(
        F.try_element_at(F.filter(
            lents, lambda e: e["key"] == STORAGE_RES_ATTR), F.lit(1))
        ["value"].try_cast("int"),
        F.lit(60))

    names = F.transform(vis_ents, lambda e: e["key"])
    has_otel = F.exists(vis_ents, lambda e: e["key"] == OTELLIB)
    names_no_otel = F.filter(names, lambda n: n != OTELLIB)

    def jarr(arr: Column) -> Column:
        return F.concat(
            F.lit("["),
            F.array_join(F.transform(arr, _jstr), ","), F.lit("]"))

    full_dim = jarr(names)
    zero_dim = F.when(has_otel, F.lit(f'["{OTELLIB}"]')).otherwise(
        F.lit("[]"))
    singles = F.transform(
        names_no_otel,
        lambda n: jarr(F.array_sort(F.concat(
            F.when(has_otel, F.array(F.lit(OTELLIB)))
            .otherwise(F.expr("array()").cast("array<string>")),
            F.array(n)))))

    single_rollup = dimension_rollup in (
        "ZeroAndSingleDimensionRollup", "SingleDimensionRollupOnly")
    rollup_parts = F.concat(
        (F.when((F.size(names_no_otel) > 0)
                & F.lit(dimension_rollup
                        == "ZeroAndSingleDimensionRollup"),
                F.array(zero_dim))
         .otherwise(F.expr("array()").cast("array<string>"))),
        (singles if single_rollup
         else F.expr("array()").cast("array<string>")),
    )
    is_single_label = (F.size(names) <= 1) | (
        (F.size(names) == 2) & has_otel)
    keep_full = ~((F.size(rollup_parts) > 0) & is_single_label
                  & F.lit(single_rollup))
    dims_json = F.concat(
        F.lit("["),
        F.array_join(F.concat(
            F.when(keep_full, F.array(full_dim))
            .otherwise(F.expr("array()").cast("array<string>")),
            rollup_parts), ","),
        F.lit("]"))

    metrics_json = F.concat(
        F.lit("["),
        F.array_join(F.transform(mets, lambda m: F.concat(
            F.lit('{"Name":'), _jstr(m["name"]),
            F.lit(',"Unit":'), _jstr(m["unit"]),
            F.lit(',"StorageResolution":'), stor_res.cast("string"),
            F.lit("}"))), ","),
        F.lit("]"))
    measurement = F.concat(
        F.lit('{"Namespace":'), _jstr(F.col("_ns")),
        F.lit(',"Dimensions":'), dims_json,
        F.lit(',"Metrics":'), metrics_json, F.lit("}"))

    prom_types = {"gauge": "gauge", "sum": "counter",
                  "histogram": "histogram", "summary": "summary"}
    prom_type = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in prom_types]),
            F.array(*[F.lit(v) for v in prom_types.values()])),
        F.col("_mt"))

    # fields: labels + metric values (+ prom_metric_type), then the
    # EMF framing keys — all sorted byte-wise like Go json.Marshal
    field_ents = F.concat(
        F.transform(vis_ents, lambda e: F.struct(
            e["key"].alias("key"),
            _jstr(e["value"]).alias("value"))),
        F.transform(mets, lambda m: F.struct(
            m["name"].alias("key"), m["vjson"].alias("value"))),
        F.when(F.col("_recv") == "prometheus", F.array(F.struct(
            F.lit("prom_metric_type").alias("key"),
            _jstr(prom_type).alias("value"))))
        .otherwise(F.expr("array()").cast(
            "array<struct<key:string,value:string>>")),
        F.array(*(
            [F.struct(F.lit("Version").alias("key"),
                      F.lit('"1"').alias("value")),
             F.struct(F.lit("_aws").alias("key"),
                      F.concat(F.lit('{"CloudWatchMetrics":['),
                               measurement,
                               F.lit(f'],"Timestamp":{timestamp_ms}'
                                     "}")).alias("value"))]
            if version == "1" else
            [F.struct(F.lit("Version").alias("key"),
                      F.lit('"0"').alias("value")),
             F.struct(F.lit("CloudWatchMetrics").alias("key"),
                      F.concat(F.lit("["), measurement, F.lit("]"))
                      .alias("value")),
             F.struct(F.lit("Timestamp").alias("key"),
                      F.lit(f'"{timestamp_ms}"').alias("value"))])),
    )
    body = F.concat(
        F.lit("{"),
        F.array_join(F.transform(
            F.array_sort(field_ents),
            lambda e: F.concat(_jstr(e["key"]), F.lit(":"),
                               e["value"])), ","),
        F.lit("}"))

    return grouped.select(
        F.col("_ns").alias("namespace"),
        F.concat(F.lit("/metrics/"), F.col("_ns")).alias("log_group"),
        F.lit(default_log_stream).alias("log_stream"),
        F.lit(timestamp_ms).alias("timestamp_ms"),
        body.alias("body"),
    )
