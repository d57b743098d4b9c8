"""Prometheus exporter ACCUMULATOR twin: the /metrics-endpoint
last-value accumulation semantics
(``exporter/prometheusexporter/accumulator.go``), re-expressed as a
per-series batch fold.

The reference folds datapoints sequentially into a registry keyed by
the time-series signature (metric name+type, scope identity, sorted
datapoint attrs, job = service.namespace/service.name, instance =
service.instance.id — :328-357).  Over one batch this engine computes
the same final registry state with window algebra per signature:

- StaleNaN points DELETE the series (:109-112 etc.) — points at or
  before the latest stale point are discarded, later points
  re-register the series.  (The reference's ``return 0`` also aborts
  the remaining datapoints of the same pmetric.Metric call — a
  single-writer corner outside this per-series model, noted.)
- gauges / summaries (:103-164): keep the datapoint with the latest
  timestamp, later arrival winning ties (arrival order = timestamp
  order in this batch model).
- sums (:166-225): unspecified temporality dropped, delta
  non-monotonic dropped; delta points whose start equals the
  previous point's timestamp CHAIN-ACCUMULATE (value sums, start
  carries from the chain head), a misaligned point replaces the
  value outright — i.e. the final value is the sum over the LAST
  contiguous chain; output temporality is always cumulative.
- histograms (:227-294): cumulative keeps latest-ts; delta points
  chain when start == previous timestamp (counts/sums/buckets add
  when the bounds match, otherwise the newer point wins —
  :368-404), a start AFTER the previous timestamp resets the chain,
  and an overlapping misalignment drops the point (the drop branch
  re-compares later points against unchanged state — sequential; in
  this batch model dropped points simply leave the chain).
- Collect (:297-326) applies the expiration filter; a single batch
  shares one "now", so expiry is the caller's stream-level concern.

One exploded fold: two window passes per signature (chain-break lag +
last-chain aggregation), no driver state.  The signature key is the
GROUPING here — the rendered "*"-joined string itself is transport.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_FLAT = ("array_join(array_sort(transform(map_entries({m}), "
         "kv -> concat(kv.key, '=', kv.value))), ',')")


def prometheus_accumulate(df: DataFrame, *,
                          id_cols: list[str]) -> DataFrame:
    res = F.col("res_attrs")
    job = F.when(
        F.element_at(res, F.lit("service.name")).isNotNull(),
        F.concat(
            F.coalesce(F.concat(
                F.element_at(res, F.lit("service.namespace")),
                F.lit("/")), F.lit("")),
            F.element_at(res, F.lit("service.name")))) \
        .otherwise(F.lit(""))
    instance = F.coalesce(
        F.element_at(res, F.lit("service.instance.id")), F.lit(""))

    signal = F.coalesce(F.col("signal"), F.lit(""))
    tempo = F.coalesce(F.col("temporality"), F.lit(0)).cast("int")
    mono = F.coalesce(F.col("is_monotonic"), F.lit(False))
    dropped = ((signal == "sum")
               & ((tempo == 0) | ((tempo == 1) & ~mono)))

    base = df.filter(~dropped).select(
        *id_cols,
        signal.alias("_sig"),
        F.coalesce(F.col("metric_name"), F.lit("")).alias("_name"),
        F.coalesce(F.col("scope_name"), F.lit("")).alias("_sn"),
        F.expr(_FLAT.format(m="attrs")).alias("_attrsig"),
        F.col("attrs").alias("_attrs"),
        job.alias("_job"), instance.alias("_inst"),
        F.col("ts_ns").cast("bigint").alias("_ts"),
        F.coalesce(F.col("start_ns"), F.lit(0)).cast("bigint")
        .alias("_start"),
        F.coalesce(F.col("stale"), F.lit(False)).alias("_stale"),
        tempo.alias("_tempo"), mono.alias("_mono"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("_v"),
        F.coalesce(F.col("count"), F.lit(0)).cast("bigint")
        .alias("_count"),
        F.coalesce(F.col("sum"), F.lit(0.0)).alias("_sum"),
        F.coalesce(F.col("bucket_counts"), F.expr("array()")
                   .cast("array<bigint>")).alias("_bk"),
        F.coalesce(F.col("explicit_bounds"), F.expr("array()")
                   .cast("array<double>")).alias("_bd"),
    )

    key = ["_sig", "_name", "_sn", "_attrsig", "_job", "_inst"]
    w = Window.partitionBy(*key).orderBy("_ts")
    wall = Window.partitionBy(*key)

    # stale delete: discard everything at or before the last stale ts
    last_stale = F.max(F.when(F.col("_stale"), F.col("_ts"))).over(wall)
    alive = base.withColumn("_lst", last_stale).filter(
        ~F.col("_stale")
        & (F.col("_lst").isNull() | (F.col("_ts") > F.col("_lst"))))

    # chain breaks: delta points whose start != previous timestamp
    prev_ts = F.lag("_ts").over(w)
    is_delta = F.col("_tempo") == 1
    brk = F.when(
        prev_ts.isNull() | ~is_delta
        | (F.col("_start") != prev_ts), F.lit(1)).otherwise(F.lit(0))
    chained = alive.withColumn("_brk", brk) \
        .withColumn("_chain", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))

    # histogram delta overlap-drop: start <= prev ts AND != prev ts
    hist_drop = (F.col("_sig") == "histogram") & is_delta \
        & (F.col("_brk") == 1) & F.lag("_ts").over(w).isNotNull() \
        & (F.col("_start") <= F.lag("_ts").over(w))
    chained = chained.withColumn("_hdrop", hist_drop).filter(
        ~F.col("_hdrop"))

    last_chain = F.max("_chain").over(wall)
    final = chained.withColumn("_lc", last_chain).filter(
        F.col("_chain") == F.col("_lc"))

    agg = (final.groupBy(*key)
           .agg(F.max("_ts").alias("ts_ns"),
                F.min(F.when(is_delta, F.col("_start")))
                .alias("_start_min"),
                F.max_by("_start", "_ts").alias("_start_last"),
                F.max_by("_attrs", "_ts").alias("attrs"),
                F.sum("_v").alias("_v_sum"),
                F.max_by("_v", "_ts").alias("_v_last"),
                F.sum("_count").alias("_count_sum"),
                F.max_by("_count", "_ts").alias("_count_last"),
                F.sum("_sum").alias("_sumv_sum"),
                F.max_by("_sum", "_ts").alias("_sumv_last"),
                F.max_by("_bd", "_ts").alias("explicit_bounds"),
                F.array_sort(F.collect_list(F.struct(
                    F.col("_ts").alias("t"), F.col("_bk").alias("b"))))
                .alias("_bks"),
                F.max_by("_tempo", "_ts").alias("_t_last"),
                F.max_by("_mono", "_ts").alias("is_monotonic")))

    summed_buckets = F.when(
        F.size(F.col("_bks")) > 0,
        F.transform(
            F.element_at(F.col("_bks"), -1)["b"],
            lambda _v, i: F.aggregate(
                F.col("_bks"), F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.coalesce(F.try_element_at(x["b"], i + 1),
                             F.lit(0)))))
    is_delta_last = F.col("_t_last") == 1
    return agg.select(
        F.col("_sig").alias("signal"),
        F.col("_name").alias("metric_name"),
        F.col("_sn").alias("scope_name"),
        F.col("_job").alias("job"), F.col("_inst").alias("instance"),
        "attrs", "ts_ns",
        F.when(is_delta_last, F.col("_start_min"))
        .otherwise(F.col("_start_last")).alias("start_ns"),
        F.when(F.col("_sig") == "sum",
               F.when(is_delta_last, F.col("_v_sum"))
               .otherwise(F.col("_v_last")))
        .when(F.col("_sig").isin("gauge", "summary"),
              F.col("_v_last")).alias("value"),
        F.when(F.col("_sig") == "histogram",
               F.when(is_delta_last, F.col("_count_sum"))
               .otherwise(F.col("_count_last"))).alias("count"),
        F.when(F.col("_sig") == "histogram",
               F.when(is_delta_last, F.col("_sumv_sum"))
               .otherwise(F.col("_sumv_last"))).alias("sum"),
        F.when(F.col("_sig") == "histogram",
               F.when(is_delta_last, summed_buckets)
               .otherwise(F.element_at(F.col("_bks"), -1)["b"]))
        .alias("bucket_counts"),
        F.when(F.col("_sig") == "histogram",
               F.col("explicit_bounds")).alias("explicit_bounds"),
        F.lit(2).alias("temporality"),  # always cumulative out
        "is_monotonic",
    )
