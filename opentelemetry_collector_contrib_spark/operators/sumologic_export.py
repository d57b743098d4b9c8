"""Sumo Logic EXPORT formatters: OTLP metrics → Prometheus-format
lines and OTLP logs → text / JSON lines
(``exporter/sumologicexporter/{prometheus_formatter,sender}.go``; the
sumologic PROCESSOR semantics live in ``operators/vendor_semantics``).

``sumologic_prom_lines`` (prometheus_formatter.go:46-405), one row
per line ``<name>{k="v",...} <value> <ts_ms>``:

- tag merge is pcommon PutStr: resource attrs first, then the
  per-line extra tag (``le``/``quantile``), then datapoint attrs —
  an existing key keeps its POSITION and takes the LAST value
  (:46-73, :242-254); no braces at all when the merge is empty
- keys and the metric name sanitize ``[^0-9a-zA-Z./_:\\-]`` → ``_``
  (:34, :135-138); values escape ``\\`` ``"`` and newline (:40-41,
  :140-147); timestamps are ns/1e6 integer milliseconds (:150-180)
- gauge/sum: one line per point; int %d, double %g, EMPTY value type
  renders an EMPTY line — the reference appends "" (:203-222)
- summary (:283-325): per point, quantile lines FIRST (tag
  ``quantile=<double AsString>``), then ``_sum`` (always), then
  ``_count``
- histogram (:327-384): cumulative bucket lines per bound (tag
  ``le=<double AsString of the bound>``), then the ``+Inf`` bucket
  only when counts is non-empty, then ``_sum`` only when HasSum,
  then ``_count``; a counts array shorter than bounds+1 panics in Go
  — those lines are dropped here

``sumologic_log_lines`` (sender.go:339-363): ``text`` = body
AsString; ``json`` = the attr map plus a ``log`` key holding the
body unless empty, encoded like Go's json.Encoder (map keys sorted).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ENT_T = "struct<key:string,value:string>"
_EMPTY_ENTS = f"array<{_ENT_T}>"
_EMPTY_LINES = "array<string>"


def _sanit_key(c: Column) -> Column:
    return F.regexp_replace(c, r"[^0-9a-zA-Z./_:\-]", "_")


def _esc_val(c: Column) -> Column:
    s = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    s = F.replace(s, F.lit('"'), F.lit('\\"'))
    return F.replace(s, F.lit("\n"), F.lit("\\n"))


def _fmt_g(c: Column) -> Column:
    """%g / pcommon double AsString for the tested range."""
    return (F.when(c == float("inf"), F.lit("+Inf"))
            .otherwise(F.regexp_replace(c.cast("string"),
                                        r"\.0$", "")))


def _ents(m: Column) -> Column:
    return F.map_entries(F.coalesce(
        m, F.expr("map()").cast("map<string,string>")))


def _tag_str(res_ents: Column, extra_ents: Column,
             dp_ents: Column) -> Column:
    ents = F.concat(res_ents, extra_ents, dp_ents)
    firsts = F.filter(
        ents,
        lambda x, i: ~F.exists(F.slice(ents, F.lit(1), i),
                               lambda y: y["key"] == x["key"]))
    rendered = F.transform(
        firsts,
        lambda x: F.concat(
            _sanit_key(x["key"]), F.lit('="'),
            _esc_val(F.element_at(
                F.filter(ents, lambda y: y["key"] == x["key"]),
                -1)["value"]),
            F.lit('"')))
    return F.when(F.size(ents) == 0, F.lit("")).otherwise(
        F.concat(F.lit("{"), F.array_join(rendered, ","), F.lit("}")))


def sumologic_prom_lines(
    df: DataFrame,
    *,
    id_cols: list[str],
) -> DataFrame:
    name = _sanit_key(F.col("name"))
    mtype = F.col("mtype")
    res_e = _ents(F.col("res_attrs"))
    dp_e = _ents(F.col("attrs"))
    no_extra = F.expr("array()").cast(_EMPTY_ENTS)
    ts = F.expr("CAST(ts_ns AS BIGINT) div 1000000")\
        .cast("string")

    def ent(key: str, value: Column) -> Column:
        return F.array(F.struct(F.lit(key).alias("key"),
                                value.cast("string").alias("value")))

    def line(nm: Column, extra: Column, value: Column) -> Column:
        return F.concat(nm, _tag_str(res_e, extra, dp_e), F.lit(" "),
                        value, F.lit(" "), ts)

    def one(cond: Column, ln: Column) -> Column:
        return F.when(cond, F.array(ln)).otherwise(
            F.expr("array()").cast(_EMPTY_LINES))

    is_int = F.col("is_int")
    number_lines = one(
        mtype.isin("gauge", "sum"),
        F.when(is_int.isNotNull(),
               line(name, no_extra,
                    F.when(is_int, F.col("vint").cast("string"))
                    .otherwise(_fmt_g(F.col("vdouble")))))
        .otherwise(F.lit("")))   # EMPTY value type -> empty line

    counts = F.coalesce(F.col("bucket_counts"),
                        F.expr("array()").cast("array<bigint>"))
    bounds = F.coalesce(F.col("bounds"),
                        F.expr("array()").cast("array<double>"))
    sum_c = F.col("sum")
    hist = mtype == "histogram"
    n_bucket = F.concat(name, F.lit("_bucket"))
    cum = lambda j: F.aggregate(  # noqa: E731
        F.slice(counts, F.lit(1), j + 1), F.lit(0).cast("bigint"),
        lambda a, x: a + x).cast("string")
    hist_lines = F.concat(
        F.when(hist & (F.size(counts) >= F.size(bounds)),
               F.transform(bounds, lambda b, j: line(
                   n_bucket, ent("le", _fmt_g(b)), cum(j))))
        .otherwise(F.expr("array()").cast(_EMPTY_LINES)),
        one(hist & (F.size(counts) >= F.size(bounds) + 1),
            line(n_bucket, ent("le", F.lit("+Inf")),
                 cum(F.size(bounds)))),
        one(hist & sum_c.isNotNull(),
            line(F.concat(name, F.lit("_sum")), no_extra,
                 _fmt_g(sum_c))),
        one(hist, line(F.concat(name, F.lit("_count")), no_extra,
                       F.col("count").cast("string"))),
    )

    summ = mtype == "summary"
    summary_lines = F.concat(
        F.when(summ, F.transform(
            F.coalesce(F.col("quantiles"), F.expr("array()").cast(
                "array<struct<q:double,v:double>>")),
            lambda qv: line(name, ent("quantile", _fmt_g(qv["q"])),
                            _fmt_g(qv["v"]))))
        .otherwise(F.expr("array()").cast(_EMPTY_LINES)),
        one(summ, line(F.concat(name, F.lit("_sum")), no_extra,
                       _fmt_g(F.coalesce(sum_c, F.lit(0.0))))),
        one(summ, line(F.concat(name, F.lit("_count")), no_extra,
                       F.col("count").cast("string"))),
    )

    return df.select(
        *id_cols,
        F.explode(F.concat(number_lines, hist_lines, summary_lines))
        .alias("line"),
    )


def sumologic_log_lines(
    df: DataFrame,
    *,
    id_cols: list[str],
    log_format: str = "text",
) -> DataFrame:
    body = F.coalesce(F.col("body"), F.lit(""))
    if log_format == "text":
        line = body
    elif log_format == "json":
        ents = _ents(F.col("attrs"))
        with_log = F.when(
            body != "",
            F.concat(ents, F.array(F.struct(
                F.lit("log").alias("key"), body.alias("value")))))\
            .otherwise(ents)
        line = F.to_json(F.map_from_entries(F.array_sort(with_log)))
    else:
        raise ValueError(f"unknown log format: {log_format}")
    return df.select(*id_cols, line.alias("line"))
