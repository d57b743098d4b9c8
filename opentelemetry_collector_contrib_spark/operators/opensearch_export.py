"""OpenSearch / Elasticsearch document EXPORT encoding: the shared
``objmodel`` flattened-document algebra + the exporter's Log Data
Model encoding
(``exporter/opensearchexporter/{encoder.go,internal/objmodel/
objmodel.go}`` — the objmodel is the same document model the
elasticsearch exporter builds on).

``opensearch_log_documents`` (encoder.go:103-144), one JSON document
per log record:

- fields are FLAT dotted keys added in order: resource attrs (under
  ``Attributes.`` or bare with ``flatten_attributes``), the
  timestamp field (``@timestamp`` or configured; ``unix_time`` →
  epoch-millis int, else the fixed 9-digit ``tsLayout``
  2006-01-02T15:04:05.000000000Z), TraceId/SpanId hex (skipped when
  empty, objmodel.go:132-146), TraceFlags int, SeverityText
  (skipped when empty, :126-130), SeverityNumber int, Body, record
  attrs
- ``dedup`` (objmodel.go:184-232): STABLE sort by key; a primitive
  whose key is a strict dotted prefix of the next key is renamed
  ``key.value`` (conflict preservation); duplicate keys keep the
  LAST value; ``dedot=False, dedup=False, sort-only`` via ``dedot``
  alone (:172-182, encoder.go:133-137)
- serialization (:237-296): flat ``{"a.b":1}`` or — with ``dedot`` —
  nested objects built by splitting keys on ``.`` (requires sorted
  fields; the single-pass shared-prefix open/close walk here is the
  same construction)
- a NULL body is the EMPTY pdata value — the field is skipped
  (IsEmpty, :433-444)

The SSO schema variants (encoder.go:56-101, :146-224) marshal a Go
struct with a wall-clock ObservedTimestamp on every record —
config-shaped and nondeterministic; the Log Data Model path is the
shared engine surface.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cloudwatch_export import _jstr

_FLD_T = "struct<key:string,idx:int,jv:string>"
_EMPTY_FLDS = f"array<{_FLD_T}>"


def _ts_layout(ts_ns: Column) -> Column:
    """tsLayout 2006-01-02T15:04:05.000000000Z (objmodel.go:86)."""
    secs = ((ts_ns - F.pmod(ts_ns, F.lit(1_000_000_000)))
            .cast("decimal(38,0)") / 1_000_000_000).cast("bigint")
    return F.concat(
        F.date_format(F.timestamp_seconds(secs),
                      "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("."),
        F.lpad(F.pmod(ts_ns, F.lit(1_000_000_000)).cast("string"),
               9, "0"),
        F.lit("Z"))


def opensearch_log_documents(
    df: DataFrame,
    *,
    id_cols: list[str],
    flatten_attributes: bool = False,
    dedup: bool = True,
    dedot: bool = True,
    timestamp_field: str = "@timestamp",
    unix_time: bool = False,
    body_col: str = "body",
    ts_ns_col: str = "ts_ns",
    trace_id_col: str = "trace_id",
    span_id_col: str = "span_id",
    severity_number_col: str = "severity_number",
    severity_text_col: str = "severity_text",
    flags_col: str = "flags",
    attrs_col: str = "attrs",
    res_attrs_col: str = "res_attrs",
) -> DataFrame:
    prefix = "" if flatten_attributes else "Attributes."

    def attr_flds(m: Column, base: int) -> Column:
        ents = F.map_entries(F.coalesce(
            m, F.expr("map()").cast("map<string,string>")))
        return F.transform(ents, lambda e, j: F.struct(
            F.concat(F.lit(prefix), e["key"]).alias("key"),
            (F.lit(base) + j).cast("int").alias("idx"),
            _jstr(e["value"]).alias("jv")))

    def one(cond: Column, key, idx: int, jv: Column) -> Column:
        return F.when(cond, F.array(F.struct(
            (F.lit(key) if isinstance(key, str) else key).alias("key"),
            F.lit(idx).cast("int").alias("idx"),
            jv.alias("jv")))).otherwise(
            F.expr("array()").cast(_EMPTY_FLDS))

    t = F.lit(True)
    ts = F.coalesce(F.col(ts_ns_col), F.lit(0))
    ts_jv = (F.expr(f"CAST(COALESCE({ts_ns_col},0) AS BIGINT)"
                    " div 1000000").cast("string")
             if unix_time else
             F.concat(F.lit('"'), _ts_layout(ts), F.lit('"')))
    body = F.col(body_col)
    sev_text = F.coalesce(F.col(severity_text_col), F.lit(""))

    # insertion order mirrors encodeLogDataModel; idx gaps are fine —
    # only relative order matters for the stable sort
    fields = F.concat(
        attr_flds(F.col(res_attrs_col), 0),
        one(t, timestamp_field, 1000, ts_jv),
        one(F.coalesce(F.col(trace_id_col), F.lit("")) != "",
            "TraceId", 1001, _jstr(F.col(trace_id_col))),
        one(F.coalesce(F.col(span_id_col), F.lit("")) != "",
            "SpanId", 1002, _jstr(F.col(span_id_col))),
        one(t, "TraceFlags", 1003,
            F.coalesce(F.col(flags_col), F.lit(0)).cast("string")),
        one(sev_text != "", "SeverityText", 1004, _jstr(sev_text)),
        one(t, "SeverityNumber", 1005,
            F.coalesce(F.col(severity_number_col), F.lit(0))
            .cast("string")),
        one(body.isNotNull(), "Body", 1006, _jstr(body)),
        F.transform(
            attr_flds(F.col(attrs_col), 0),
            lambda x: F.struct(x["key"].alias("key"),
                               (x["idx"] + 2000).cast("int")
                               .alias("idx"),
                               x["jv"].alias("jv"))),
    )

    # ------- select-barrier staging ---------------------------------
    # The rename/dedup/serialize steps each reference the field array
    # several times; computed inline, CollapseProject re-inlines the
    # whole upstream tree into every reference and driver-side
    # analysis/codegen blows up (526 s at sf0.001 in the first
    # draft; the loki_export lesson in PLANS.md). Each step below is
    # its own projection whose input is a materialized column that is
    # referenced MORE THAN ONCE — CollapseProject keeps the barrier.
    staged = df.select(*id_cols, fields.alias("_f"))

    def restage(expr_fn):
        nonlocal staged
        staged = staged.select(
            *id_cols, expr_fn(F.col("_f")).alias("_f"))

    if dedup or dedot:
        restage(F.array_sort)   # (key, idx) = stable by key
    if dedup:
        # rename: a key that is a strict dotted prefix of its
        # successor becomes key.value (objmodel.go:206-216)
        restage(lambda f: F.transform(
            f,
            lambda x, i: F.struct(
                F.when(
                    (i < F.size(f) - 1)
                    & F.element_at(f, i + 2)["key"].startswith(
                        F.concat(x["key"], F.lit("."))),
                    F.concat(x["key"], F.lit(".value")))
                .otherwise(x["key"]).alias("key"),
                x["idx"].alias("idx"), x["jv"].alias("jv"))))
        restage(F.array_sort)
        # duplicate keys keep the LAST value (:218-226)
        restage(lambda f: F.filter(
            f,
            lambda x, i: (i == F.size(f) - 1)
            | (F.element_at(f, i + 2)["key"] != x["key"])))

    fcol = F.col("_f")
    key_of = lambda x: x["key"]  # noqa: E731
    if not dedot:
        body_json = F.concat(
            F.lit("{"),
            F.array_join(F.transform(fcol, lambda x: F.concat(
                _jstr(key_of(x)), F.lit(":"), x["jv"])), ","),
            F.lit("}"))
    else:
        segs = lambda x: F.split(key_of(x), r"\.")  # noqa: E731

        def common(i: Column) -> Column:
            prev = segs(F.element_at(fcol, i))       # 1-based i
            cur = segs(F.element_at(fcol, i + 1))
            matches = F.zip_with(
                cur, prev, lambda a, b: F.coalesce(a == b,
                                                   F.lit(False)))
            return F.aggregate(
                matches,
                F.struct(F.lit(True).alias("ok"),
                         F.lit(0).alias("cnt")),
                lambda st, m: F.struct(
                    (st["ok"] & m).alias("ok"),
                    (st["cnt"] + F.when(st["ok"] & m, 1)
                     .otherwise(0)).alias("cnt")),
                lambda st: st["cnt"])

        def opens(ss: Column, frm: Column) -> Column:
            return F.array_join(F.transform(
                F.slice(ss, frm + 1,
                        F.greatest(F.size(ss) - 1 - frm, F.lit(0))),
                lambda s: F.concat(_jstr(s), F.lit(":{"))), "")

        frags = F.transform(
            fcol,
            lambda x, i: F.when(i == 0, F.concat(
                opens(segs(x), F.lit(0)),
                _jstr(F.element_at(segs(x), -1)), F.lit(":"),
                x["jv"]))
            .otherwise(F.concat(
                F.repeat(F.lit("}"),
                         F.size(segs(F.element_at(fcol, i)))
                         - 1 - common(i)),
                F.lit(","),
                opens(segs(x), common(i)),
                _jstr(F.element_at(segs(x), -1)), F.lit(":"),
                x["jv"])))
        tail = F.when(
            F.size(fcol) > 0,
            F.repeat(F.lit("}"),
                     F.size(segs(F.element_at(fcol, -1))) - 1)) \
            .otherwise(F.lit(""))
        body_json = F.concat(F.lit("{"), F.array_join(frags, ""),
                             tail, F.lit("}"))

    return staged.select(*id_cols, body_json.alias("document"))
