"""Carbon EXPORT translator: OTLP metrics → Carbon plaintext lines
(``exporter/carbonexporter/metricdata_to_plaintext.go``; the receive
direction is ``operators/receivers.py::carbon_parse``).

One output row per Carbon line ``<path> <value> <ts>\\n``:

- path = name + ``;key=value`` per point attr IN ORDER (:252-274);
  keys sanitize ``;!^=`` → ``_`` (:288-302), values are NOT sanitized
  (buildPath never calls sanitizeTagValue — :306 is dead code in the
  reference) but an empty value becomes ``<empty>`` (:263-265)
- a metric with an empty name is skipped entirely (:97-100)
- gauge/sum points: EMPTY value type skipped (:122-124), int via
  FormatInt, double via FormatFloat 'f' (:320-322)
- histogram (:140-183): ``.count`` + sum under the bare name ALWAYS
  (Sum() defaults 0 when absent — no HasSum gate here, :229-254);
  buckets only when bounds is non-empty; bucket values are the RAW
  per-bucket counts (NOT cumulative); the ``upper_bound`` tag is the
  'g'-format bound by position, ``inf`` for the overflow slot; a
  count index past len(bounds)+1 would panic in Go — dropped here
- summary (:185-222): ``.count`` + bare-name sum, then
  ``.quantile`` lines tagged ``quantile=<'g' of q*100>``
- timestamp: integer ns/1e9 seconds (:328-330)
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMPTY_TAG_VALUE = "<empty>"
INF = "inf"

_LN_T = "struct<path:string,value:string>"
_EMPTY_LNS = f"array<{_LN_T}>"


def _fmt_f(c: Column) -> Column:
    """FormatFloat 'f' (no exponent) for the tested range."""
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def _fmt_g(c: Column) -> Column:
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def carbon_export_lines(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    name, mtype = F.col("name"), F.col("mtype")

    tags = F.array_join(F.transform(
        F.map_entries(F.coalesce(
            F.col("attrs"),
            F.expr("map()").cast("map<string,string>"))),
        lambda e: F.concat(
            F.lit(";"),
            F.translate(e["key"], ";!^=", "____"),
            F.lit("="),
            F.when(e["value"] == "", F.lit(EMPTY_TAG_VALUE))
            .otherwise(e["value"]))), "")

    def ln(suffix: Column, value: Column, extra: Column) -> Column:
        return F.struct(
            F.concat(name, suffix, tags, extra).alias("path"),
            value.cast("string").alias("value"))

    def one(cond: Column, line: Column) -> Column:
        return F.when(cond, F.array(line)).otherwise(
            F.expr("array()").cast(_EMPTY_LNS))

    nil_s = F.lit("")
    is_int = F.col("is_int")
    number_lns = one(
        mtype.isin("gauge", "sum") & is_int.isNotNull(),
        ln(nil_s,
           F.when(is_int, F.col("vint").cast("string"))
           .otherwise(_fmt_f(F.col("vdouble"))), nil_s))

    sum_v = _fmt_f(F.coalesce(F.col("sum"), F.lit(0.0)))
    count_v = F.col("count").cast("string")
    counts = F.coalesce(F.col("bucket_counts"),
                        F.expr("array()").cast("array<bigint>"))
    bounds = F.coalesce(F.col("bounds"),
                        F.expr("array()").cast("array<double>"))
    hist = mtype == "histogram"
    hist_lns = F.concat(
        one(hist, ln(F.lit(".count"), count_v, nil_s)),
        one(hist, ln(nil_s, sum_v, nil_s)),
        F.when(hist & (F.size(bounds) > 0), F.filter(F.transform(
            counts,
            lambda c, j: F.when(j <= F.size(bounds), ln(
                F.lit(".bucket"), c.cast("string"),
                F.concat(F.lit(";upper_bound="),
                         F.when(j < F.size(bounds),
                                _fmt_g(F.element_at(bounds, j + 1)))
                         .otherwise(F.lit(INF))))),
        ), lambda x: x.isNotNull()))
        .otherwise(F.expr("array()").cast(_EMPTY_LNS)),
    )

    summ = mtype == "summary"
    summary_lns = F.concat(
        one(summ, ln(F.lit(".count"), count_v, nil_s)),
        one(summ, ln(nil_s, sum_v, nil_s)),
        F.when(summ, F.transform(
            F.coalesce(F.col("quantiles"), F.expr("array()").cast(
                "array<struct<q:double,v:double>>")),
            lambda qv: ln(F.lit(".quantile"), _fmt_f(qv["v"]),
                          F.concat(F.lit(";quantile="),
                                   _fmt_g(qv["q"] * 100)))))
        .otherwise(F.expr("array()").cast(_EMPTY_LNS)),
    )

    out = df.where(name != "").select(
        *id_cols,
        F.expr("CAST(ts_ns AS BIGINT) div 1000000000")
        .cast("string").alias("_ts"),
        F.explode(F.concat(number_lns, hist_lns, summary_lns))
        .alias("_ln"),
    )
    return out.select(
        *id_cols,
        F.concat(F.col("_ln")["path"], F.lit(" "),
                 F.col("_ln")["value"], F.lit(" "), F.col("_ts"),
                 F.lit("\n")).alias("line"),
    )
