"""Prometheus translator family: OTLP -> Prometheus naming + remote-write
series expansion (the export direction of the prometheus receivers).

Re-expresses, as pure Spark Column algebra (zero Python in the hot path):

- ``prom_compliant_name``   — pkg/translator/prometheus/normalize_name.go:30-99
  (BuildCompliantName: token split, unit main/per suffixes, _total for
  monotonic sums, _ratio for unit-"1" gauges, namespace prefix, digit guard)
- ``prom_normalize_label``  — normalize_label.go:27-44 (NormalizeLabel)
- ``prom_compliant_unit``   — normalize_unit.go:64-129
  (BuildCompliantPrometheusUnit / main / per unit maps + CleanUpString)
- ``prw_histogram_series``  — pkg/translator/prometheusremotewrite/helper.go:
  205-278 (addHistogramDataPoints: _sum/_count/_bucket cumulative fan with
  the le=+Inf row)
- ``prw_summary_series``    — helper.go:382-428 (addSummaryDataPoints:
  _sum/_count + per-quantile series)
- ``prw_label_set``         — helper.go:95-186 (createAttributes: stable
  sort by original key, sanitized-key collision fold with the Go
  "accumulated != next" append rule, job/instance mapping, external-label
  skip-if-present, extras overwrite)
- ``prw_target_info``       — helper.go:483-532 (addResourceTargetInfo:
  identifying-attr gating, non-identifying count > 0, job/instance guard)
- ``prom_metadata``         — otlp_to_openmetrics_metadata.go:16-81
  (otelMetricTypeToPromMetricType + family name + unit + help)

Divergence (documented): Prometheus encodes staleness as the StaleNaN
float bit pattern (helper.go:222); a NaN payload is hostile to
value-hash comparison, so stale samples here carry ``value = NULL``
alongside the boolean ``stale`` column — same information, stable hash.
Timestamps follow convertTimeStamp (helper.go:535-537): ns -> ms.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# normalize_unit.go:16-50 — OTLP/UCUM unit -> Prometheus base unit
UNIT_MAP: dict[str, str] = {
    "d": "days", "h": "hours", "min": "minutes", "s": "seconds",
    "ms": "milliseconds", "us": "microseconds", "ns": "nanoseconds",
    "By": "bytes", "KiBy": "kibibytes", "MiBy": "mebibytes",
    "GiBy": "gibibytes", "TiBy": "tibibytes", "KBy": "kilobytes",
    "MBy": "megabytes", "GBy": "gigabytes", "TBy": "terabytes",
    "m": "meters", "V": "volts", "A": "amperes", "J": "joules",
    "W": "watts", "g": "grams",
    "Cel": "celsius", "Hz": "hertz", "1": "", "%": "percent",
}

# normalize_unit.go:54-62 — the "per" unit map (singular)
PER_UNIT_MAP: dict[str, str] = {
    "s": "second", "m": "minute", "h": "hour", "d": "day",
    "w": "week", "mo": "month", "y": "year",
}


def _lit_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def _clean_up(col: Column) -> Column:
    """CleanUpString (normalize_unit.go:127-129): keep alnum runs, '_'-join."""
    return F.array_join(
        F.filter(F.split(col, "[^\\p{L}\\p{Nd}]+"), lambda x: x != ""), "_")


def _name_tokens(name: Column) -> Column:
    """strings.FieldsFunc on non-alphanumeric (normalize_name.go:57-60)."""
    return F.filter(
        F.split(F.coalesce(name, F.lit("")), "[^\\p{L}\\p{Nd}]+"),
        lambda x: x != "")


def _main_unit(unit: Column) -> Column:
    """buildCompliantMainUnit (normalize_unit.go:78-90); '' when absent."""
    u = F.coalesce(unit, F.lit(""))
    main_otel = F.trim(F.element_at(F.split(u, "/", 2), 1))
    ok = (main_otel != "") & ~main_otel.rlike("[{}]")
    prom = _clean_up(
        F.coalesce(F.element_at(_lit_map(UNIT_MAP), main_otel), main_otel))
    return F.when(ok & (prom != ""), prom).otherwise(F.lit(""))


def _per_unit(unit: Column) -> Column:
    """buildCompliantPerUnit (normalize_unit.go:94-106); '' when absent."""
    u = F.coalesce(unit, F.lit(""))
    parts = F.split(u, "/", 2)
    per_otel = F.trim(F.when(F.size(parts) > 1, F.element_at(parts, 2))
                      .otherwise(F.lit("")))
    ok = (per_otel != "") & ~per_otel.rlike("[{}]")
    prom = _clean_up(
        F.coalesce(F.element_at(_lit_map(PER_UNIT_MAP), per_otel), per_otel))
    return F.when(ok & (prom != ""), prom).otherwise(F.lit(""))


def prom_compliant_unit(unit: Column) -> Column:
    """BuildCompliantPrometheusUnit (normalize_unit.go:64-74)."""
    main, per = _main_unit(unit), _per_unit(unit)
    return F.array_join(
        F.filter(
            F.when(per != "", F.array(main, F.lit("per"), per))
            .otherwise(F.array(main)),
            lambda x: x != ""),
        "_")


def prom_compliant_name(
    name: Column,
    unit: Column,
    metric_type: Column,
    is_monotonic: Column,
    namespace: str | None = None,
    add_suffixes: bool = True,
) -> Column:
    """BuildCompliantName (normalize_name.go:30-99).

    ``metric_type`` uses the lowercase pdata names: ``gauge``, ``sum``,
    ``histogram``, ``exponential_histogram``, ``summary``.
    """
    if not add_suffixes:
        # normalize_name.go:38-51: trim forbidden runes only ('_' and ':'
        # survive); namespace prefix skips the digit guard.
        trimmed = F.array_join(
            F.filter(F.split(F.coalesce(name, F.lit("")),
                             "[^\\p{L}\\p{Nd}_:]+"),
                     lambda x: x != ""), "_")
        if namespace:
            return F.concat(F.lit(namespace + "_"), trimmed)
        return F.when(trimmed.rlike("^\\p{Nd}"),
                      F.concat(F.lit("_"), trimmed)).otherwise(trimmed)

    toks = _name_tokens(name)
    main, per = _main_unit(unit), _per_unit(unit)
    # append main unit unless already a token (normalize_name.go:64-66)
    toks = F.when((main != "") & ~F.array_contains(toks, main),
                  F.concat(toks, F.array(main))).otherwise(toks)
    # append per unit as 'per_<unit>' (normalize_name.go:67-69)
    toks = F.when((per != "") & ~F.array_contains(toks, per),
                  F.concat(toks, F.array(F.lit("per"), per))).otherwise(toks)
    # monotonic sums end in exactly one 'total' (normalize_name.go:72-74)
    mono = F.coalesce(is_monotonic, F.lit(False))
    toks = F.when(
        (metric_type == "sum") & mono,
        F.concat(F.filter(toks, lambda x: x != "total"),
                 F.array(F.lit("total")))).otherwise(toks)
    # unit "1" gauges end in exactly one 'ratio' (normalize_name.go:81-83)
    toks = F.when(
        (F.coalesce(unit, F.lit("")) == "1") & (metric_type == "gauge"),
        F.concat(F.filter(toks, lambda x: x != "ratio"),
                 F.array(F.lit("ratio")))).otherwise(toks)
    if namespace:
        toks = F.concat(F.array(F.lit(namespace)), toks)
    joined = F.array_join(toks, "_")
    return F.when(joined.rlike("^\\p{Nd}"),
                  F.concat(F.lit("_"), joined)).otherwise(joined)


def prom_normalize_label(label: Column) -> Column:
    """NormalizeLabel (normalize_label.go:27-44): non-alnum -> '_',
    leading digit -> 'key_' prefix, single leading '_' -> 'key' prefix
    (double underscore preserved)."""
    s = F.regexp_replace(label, "[^\\p{L}\\p{Nd}]", "_")
    return (
        F.when(label == "", label)
        .when(s.rlike("^\\p{Nd}"), F.concat(F.lit("key_"), s))
        .when(s.rlike("^_") & ~s.rlike("^__"), F.concat(F.lit("key"), s))
        .otherwise(s)
    )


def _fmt_float(col: Column) -> Column:
    """strconv.FormatFloat(v,'f',-1,64) for the fixture's friendly floats:
    cast then strip trailing fractional zeros and a dangling point."""
    s = col.cast("string")
    s = F.when(s.contains("."),
               F.regexp_replace(F.regexp_replace(s, "0+$", ""), "\\.$", "")
               ).otherwise(s)
    return s


def prw_histogram_series(
    df: DataFrame,
    *,
    id_cols: list[str],
    name_col: str = "name",
) -> DataFrame:
    """addHistogramDataPoints (helper.go:205-278).

    One input row = one explicit-bounds histogram datapoint. Output: one
    row per emitted sample — ``<name>_sum`` (only when has_sum),
    ``<name>_count``, one ``<name>_bucket`` per bound with the CUMULATIVE
    count and ``le`` label, plus the ``le="+Inf"`` bucket carrying the
    total count. Zero shuffle: the cumulative fan is a per-row
    ``transform``+``aggregate`` over the (small) bounds array followed by
    a single ``inline`` Generate.
    """
    df = df.withColumn("_stale", F.coalesce(F.col("stale"), F.lit(False)))
    name = F.col(name_col)
    ts_ms = (F.col("ts_ns") / F.lit(1000000)).cast("bigint")
    stale = F.col("_stale")
    n = F.least(F.size(F.col("bounds")), F.size(F.col("bucket_counts")))
    # cumulative bucket counts: prefix sums of bucket_counts[0..i]
    cum = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.aggregate(
            F.slice(F.col("bucket_counts"), F.lit(1), i),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x),
    )
    val = lambda v: F.when(stale, F.lit(None).cast("double")).otherwise(v)  # noqa: E731
    sample = lambda nm, le, v: F.struct(  # noqa: E731
        nm.alias("metric"), le.alias("le"), v.alias("value"))
    none_le = F.lit(None).cast("string")

    rows = F.concat(
        F.when(F.col("has_sum"),
               F.array(sample(F.concat(name, F.lit("_sum")), none_le,
                              val(F.col("sum").cast("double")))))
        .otherwise(F.array().cast("array<struct<metric:string,le:string,value:double>>")),
        F.array(sample(F.concat(name, F.lit("_count")), none_le,
                       val(F.col("count").cast("double")))),
        F.zip_with(
            F.slice(F.col("bounds"), F.lit(1), n), cum,
            lambda b, c: sample(F.concat(name, F.lit("_bucket")),
                                _fmt_float(b), val(c.cast("double")))),
        F.array(sample(F.concat(name, F.lit("_bucket")), F.lit("+Inf"),
                       val(F.col("count").cast("double")))),
    )
    out = df.select(*id_cols, ts_ms.alias("ts_ms"), stale.alias("stale"),
                    F.inline(rows))
    return out.select(*id_cols, "metric", "le", "ts_ms", "stale", "value")


def prw_summary_series(
    df: DataFrame,
    *,
    id_cols: list[str],
    name_col: str = "name",
) -> DataFrame:
    """addSummaryDataPoints (helper.go:382-428): _sum + _count series plus
    one base-name series per quantile with the ``quantile`` label."""
    df = df.withColumn("_stale", F.coalesce(F.col("stale"), F.lit(False)))
    name = F.col(name_col)
    ts_ms = (F.col("ts_ns") / F.lit(1000000)).cast("bigint")
    stale = F.col("_stale")
    val = lambda v: F.when(stale, F.lit(None).cast("double")).otherwise(v)  # noqa: E731
    sample = lambda nm, q, v: F.struct(  # noqa: E731
        nm.alias("metric"), q.alias("quantile"), v.alias("value"))
    none_q = F.lit(None).cast("string")

    rows = F.concat(
        F.array(
            sample(F.concat(name, F.lit("_sum")), none_q,
                   val(F.col("sum").cast("double"))),
            sample(F.concat(name, F.lit("_count")), none_q,
                   val(F.col("count").cast("double")))),
        F.zip_with(
            F.col("quantiles"), F.col("quantile_values"),
            lambda q, v: sample(name, _fmt_float(q),
                                val(v.cast("double")))),
    )
    out = df.select(*id_cols, ts_ms.alias("ts_ms"), stale.alias("stale"),
                    F.inline(rows))
    return out.select(*id_cols, "metric", "quantile", "ts_ms", "stale",
                      "value")


def prw_label_set(
    df: DataFrame,
    *,
    id_col: str,
    attrs_col: str = "attrs",
    service_name_col: str = "service_name",
    service_namespace_col: str = "service_namespace",
    service_instance_col: str = "service_instance",
    metric_name_col: str | None = "metric_name",
    external_labels: dict[str, str] | None = None,
) -> DataFrame:
    """createAttributes (helper.go:95-186) -> exploded (id, label, value).

    Priority resolution replays the Go map-assignment order: datapoint
    attributes (folded per sanitized key) < job/instance < external labels
    (skip-if-present => lowest precedence for colliding keys) < extras
    (the ``__name__`` metric label, kept verbatim per helper.go:172-177).
    The collision fold replays the quirky append rule at helper.go:131-141:
    values are visited sorted by ORIGINAL key; a value is appended with
    ';' only when the accumulated string differs from it — so only a
    leading run of equal values collapses.
    """
    ext = external_labels or {}
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(attrs_col).alias("_attrs"),
        F.col(service_name_col).alias("_svc"),
        F.col(service_namespace_col).alias("_ns"),
        F.col(service_instance_col).alias("_inst"),
        *([F.col(metric_name_col).alias("_mname")]
          if metric_name_col else []),
    )

    # 1. attribute labels: explode -> sanitize -> fold per sanitized key
    ex = base.select(
        "_id", F.explode_outer(F.col("_attrs")).alias("k", "v"))
    ex = ex.where(F.col("k").isNotNull()).select(
        "_id", "k", "v", prom_normalize_label(F.col("k")).alias("sk"))
    folded = (
        ex.groupBy("_id", "sk")
        .agg(F.array_sort(F.collect_list(F.struct("k", "v"))).alias("kvs"))
        .select(
            "_id", F.col("sk").alias("label"),
            F.aggregate(
                F.transform(F.col("kvs"), lambda s: s["v"]),
                F.lit("").cast("string"),
                lambda acc, v: F.when(acc == "", v)
                .when(acc == v, acc)
                .otherwise(F.concat(acc, F.lit(";"), v)),
            ).alias("value"),
            F.lit(0).alias("prio"))
    )

    # 2. job (service.namespace '/' service.name) + instance labels
    job = base.where(F.col("_svc").isNotNull()).select(
        "_id", F.lit("job").alias("label"),
        F.when(F.col("_ns").isNotNull(),
               F.concat(F.col("_ns"), F.lit("/"), F.col("_svc")))
        .otherwise(F.col("_svc")).alias("value"),
        F.lit(1).alias("prio"))
    inst = base.where(F.col("_inst").isNotNull()).select(
        "_id", F.lit("instance").alias("label"),
        F.col("_inst").alias("value"), F.lit(1).alias("prio"))
    parts = [folded, job, inst]

    # 3. external labels (lowest precedence: only if key absent)
    if ext:
        ext_rows = F.array(*[
            F.struct(F.lit(k).alias("label"), F.lit(v).alias("value"))
            for k, v in ext.items()])
        parts.append(
            base.select("_id", F.inline(ext_rows), F.lit(-1).alias("prio")))

    # 4. extras: the __name__ metric label (verbatim, highest)
    if metric_name_col:
        parts.append(base.select(
            "_id", F.lit("__name__").alias("label"),
            F.col("_mname").alias("value"), F.lit(2).alias("prio")))

    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    from pyspark.sql import Window
    w = Window.partitionBy("_id", "label").orderBy(F.col("prio").desc())
    return (
        allp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("_id").alias(id_col), "label", "value")
    )


def prw_target_info(
    df: DataFrame,
    *,
    id_col: str,
) -> DataFrame:
    """addResourceTargetInfo (helper.go:483-532) -> exploded labels of the
    target_info sample (value 1.0 at ns->ms timestamp).

    Gates replayed: zero timestamp -> no row; resources whose attributes
    are ONLY the three identifying keys -> no row; rows lacking both a
    job and an instance identifier -> no row. The identifying keys are
    excluded from the label set (passed as ignoreAttrs in the Go call)
    but still feed job/instance.
    """
    ident = ["service.namespace", "service.name", "service.instance.id"]
    a = F.col("resource_attrs")
    non_ident = F.size(F.filter(
        F.map_keys(a), lambda k: ~k.isin(*ident)))
    eligible = df.where(
        (F.col("ts_ns").isNotNull()) & (F.col("ts_ns") != 0)
        & (non_ident > 0)
        & (F.element_at(a, "service.name").isNotNull()
           | F.element_at(a, "service.instance.id").isNotNull()))
    prepped = eligible.select(
        F.col(id_col),
        F.map_filter(a, lambda k, _: ~k.isin(*ident)).alias("_ti_attrs"),
        F.element_at(a, "service.name").alias("_ti_svc"),
        F.element_at(a, "service.namespace").alias("_ti_ns"),
        F.element_at(a, "service.instance.id").alias("_ti_inst"),
        F.lit("target_info").alias("_ti_name"),
        ((F.col("ts_ns") / F.lit(1000000)).cast("bigint")).alias("ts_ms"),
    )
    labels = prw_label_set(
        prepped, id_col=id_col, attrs_col="_ti_attrs",
        service_name_col="_ti_svc", service_namespace_col="_ti_ns",
        service_instance_col="_ti_inst", metric_name_col="_ti_name")
    ts = prepped.select(id_col, "ts_ms")
    return labels.join(F.broadcast(ts), id_col).select(
        id_col, "label", "value", "ts_ms", F.lit(1.0).alias("sample_value"))


def prom_metadata(df: DataFrame) -> DataFrame:
    """OtelMetricsToMetadata (otlp_to_openmetrics_metadata.go:16-81):
    one metadata row per metric — prom type (with the metadata-key
    unknown/info/stateset overrides), compliant family name, compliant
    unit, help text."""
    t = F.col("metric_type")
    mono = F.coalesce(F.col("is_monotonic"), F.lit(False))
    md = F.coalesce(F.col("metadata_type"), F.lit(""))
    prom_type = (
        F.when(t == "gauge",
               F.when(md == "unknown", "UNKNOWN").otherwise("GAUGE"))
        .when(t == "sum",
              F.when(mono, "COUNTER")
              .when(md == "info", "INFO")
              .when(md == "stateset", "STATESET")
              .otherwise("GAUGE"))
        .when(t == "histogram", "HISTOGRAM")
        .when(t == "summary", "SUMMARY")
        .when(t == "exponential_histogram", "HISTOGRAM")
        .otherwise("UNKNOWN"))
    return df.select(
        prom_type.alias("prom_type"),
        prom_compliant_name(
            F.col("name"), F.col("unit"), t, mono).alias("family_name"),
        prom_compliant_unit(F.col("unit")).alias("prom_unit"),
        F.col("description").alias("help"),
    )
