"""Second extension batch: exceptions connector, rate conversion,
JSON-array parsing, range enrichment, groupbyattrs, ratio filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import delta_to_rate, group_by_attrs
from ..operators.enrich import range_enrich
from ..operators.parse import jsonarray_parser
from .base import QueryFn, load


# ---------------------------------------------------------------------------
# exceptions connector: explode span events, count exception-like ones
# (connector/exceptionsconnector: explode(events) + filter + groupBy)
# ---------------------------------------------------------------------------

def q_exceptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # synthesize a span-events array from the row, then explode —
    # the exceptionsconnector shape over nested event lists
    events_arr = F.array(
        F.struct(F.lit("start").alias("name"), F.col("event_type").alias("kind")),
        F.struct(
            F.when(F.col("event_type") == "error", "exception").otherwise("ok").alias("name"),
            F.col("event_type").alias("kind"),
        ),
    )
    exploded = ev.withColumn("ev", F.explode(events_arr))
    return (
        exploded.filter(F.col("ev.name") == "exception")
        .groupBy(F.col("ev.kind").alias("kind"))
        .agg(F.count(F.lit(1)).alias("exception_count"))
        .orderBy("kind")
    )


O_EXCEPTIONS = """
SELECT event_type AS kind, count(*) AS exception_count
FROM events WHERE event_type = 'error'
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# deltatorate processor: delta / (ts - start_ts)
# ---------------------------------------------------------------------------

def q_delta_to_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    with_start = ev.withColumn(
        "start_ts", F.col("ts") - F.expr("INTERVAL 10 SECONDS")
    )
    out = delta_to_rate(with_start, "value", "start_ts", ts_col="ts", out_col="rate")
    return out.select("event_id", F.round("rate", 6).alias("rate"))


O_RATE = """
SELECT event_id, round(value / 10.0, 6) AS rate FROM events
"""


# ---------------------------------------------------------------------------
# jsonarray parser: JSON array -> typed rows
# ---------------------------------------------------------------------------

def q_jsonarray_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    arr_json = F.format_string(
        '[{"i": %d}, {"i": %d}]', F.col("user_id"), F.col("user_id") + 1
    )
    parsed = jsonarray_parser(
        ev.withColumn("body", arr_json), "struct<i: bigint>", parse_from="body"
    )
    return parsed.select(
        "event_id",
        F.aggregate(
            F.col("parsed"), F.lit(0).cast("bigint"), lambda acc, x: acc + x["i"]
        ).alias("i_sum"),
        F.size("parsed").alias("n_elems"),
    )


O_JSONARRAY = """
SELECT event_id, user_id * 2 + 1 AS i_sum, 2 AS n_elems FROM events
"""


# ---------------------------------------------------------------------------
# range enrich (geoip block-lookup shape)
# ---------------------------------------------------------------------------

def q_range_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    bands = spark.createDataFrame(
        [(-100000.0, 0.0, "debt"), (0.0, 5000.0, "low"), (5000.0, 100000.0, "high")],
        "lo double, hi double, band string",
    )
    enriched = range_enrich(
        cust, bands, F.col("c_acctbal"), "lo", "hi", how="left"
    )
    return (
        enriched.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("band")
    )


O_RANGE_ENRICH = """
SELECT band, count(*) AS n_customers FROM (
  SELECT CASE
    WHEN c_acctbal >= -100000 AND c_acctbal <= 0 THEN 'debt'
    WHEN c_acctbal > 0 AND c_acctbal <= 5000 THEN 'low'
    WHEN c_acctbal > 5000 AND c_acctbal <= 100000 THEN 'high'
    END AS band
  FROM customer
) GROUP BY band ORDER BY band
"""


# ---------------------------------------------------------------------------
# groupbyattrs: promote attrs into the resource struct, flatten out
# ---------------------------------------------------------------------------

def q_groupbyattrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    with_res = ev.withColumn("resource", F.struct(F.lit("events").alias("source")))
    out = group_by_attrs(with_res, ["event_type", "user_id"])
    return out.select(
        "event_id",
        F.col("resource.source").alias("res_source"),
        F.col("resource.event_type").alias("res_event_type"),
        F.col("resource.user_id").alias("res_user_id"),
    )


O_GROUPBYATTRS = """
SELECT event_id, 'events' AS res_source, event_type AS res_event_type,
       user_id AS res_user_id
FROM events
"""


# ---------------------------------------------------------------------------
# stanza filter with drop ratio (deterministic md5 bucket)
# ---------------------------------------------------------------------------

def q_stanza_filter_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stanza filter drops matching rows with probability dropCutoff/1000
    (transformer/filter/transformer.go:18-55) — deterministically: the
    md5-hex bucket of the row id replaces rand()."""
    ev = load(spark, sf_dir, "events")
    bucket_hex = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    # drop 'view' rows whose bucket < '80' (≈50% of them)
    drop = (F.col("event_type") == "view") & (bucket_hex < "80")
    return ev.filter(~drop).select("event_id", "event_type")


O_STANZA_FILTER = """
SELECT event_id, event_type FROM events
WHERE NOT (event_type = 'view'
           AND substring(md5(CAST(event_id AS VARCHAR)), 1, 2) < '80')
"""


# ---------------------------------------------------------------------------
# composite quality score over documents
# ---------------------------------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )


_DUCK_TOKS2 = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')"

O_QUALITY_SCORE = f"""
SELECT doc_id, round(
  0.3 * least(len({_DUCK_TOKS2}) / 20.0, 1.0)
  + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / length(text))
  + 0.2 * (len(list_distinct({_DUCK_TOKS2}))::DOUBLE / len({_DUCK_TOKS2}))
  + 0.2 * (1 - least((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                      / length(text)) * 4, 1.0))
, 6) AS quality
FROM documents
"""


# ---------------------------------------------------------------------------
# alertsgen quantile rule: exact interpolated percentile per window
# (alertsgenconnector/rules.go:226-273 quantile expr)
# ---------------------------------------------------------------------------

def q_alert_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import alert_windows

    ev = load(spark, sf_dir, "events")
    windowed = alert_windows(
        ev,
        group_by=["event_type"],
        ts_col="ts",
        window="1 hour",
        exprs={
            "p50": F.percentile(F.col("value"), F.lit(0.5)),
            "p90": F.percentile(F.col("value"), F.lit(0.9)),
        },
    )
    return windowed.select(
        "window_start", "event_type",
        F.round("p50", 4).alias("p50"), F.round("p90", 4).alias("p90"),
    )


O_ALERT_QUANTILE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       CAST(round(quantile_cont(value, 0.5), 4) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(value, 0.9), 4) AS DOUBLE) AS p90
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# OTTL statement-string compiler end-to-end (EP2: string -> Column)
# ---------------------------------------------------------------------------

def q_ottl_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ottl_compiler import compile_statements

    ev = load(spark, sf_dir, "events")
    record = ev.select(
        "event_id",
        F.col("props").alias("body"),
        F.create_map(F.lit("etype"), F.col("event_type")).alias("attributes"),
        F.when(F.col("event_type") == "error", 17).otherwise(9).alias("severity_number"),
        F.lit("INFO").alias("severity_text"),
    )
    transform = compile_statements(
        [
            'set(attributes["hash"], MD5(body))',
            "truncate_all(attributes, 8)",
            'set(severity_text, "ERROR") where severity_number >= SEVERITY_NUMBER_ERROR',
        ]
    )
    out = transform(record)
    return out.select(
        "event_id",
        F.element_at("attributes", F.lit("hash")).alias("body_hash8"),
        F.element_at("attributes", F.lit("etype")).alias("etype"),
        "severity_text",
    )


O_OTTL_COMPILED = """
SELECT event_id,
       substring(md5(props), 1, 8) AS body_hash8,
       substring(event_type, 1, 8) AS etype,
       CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END AS severity_text
FROM events
"""


# ---------------------------------------------------------------------------
# shipping-priority multi-join (general relational capability; the
# signaltometrics/servicegraph-style join-then-aggregate composed at
# TPC-H Q3 shape)
# ---------------------------------------------------------------------------

def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


O_SHIPPING = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# pipeline fan-in: multiple receivers -> one processor chain (unionByName)
# ---------------------------------------------------------------------------

def q_fanin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # two "receivers": error stream and high-value stream, different
    # column orders — unionByName aligns them (service-level fan-in)
    a = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("errors").alias("receiver"), "event_type"
    )
    b = ev.filter(F.col("value") > 90).select(
        F.lit("highvalue").alias("receiver"), "event_type", "event_id"
    )
    merged = a.unionByName(b)
    return (
        merged.groupBy("receiver")
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("event_id").alias("n_distinct"))
        .orderBy("receiver")
    )


O_FANIN = """
SELECT receiver, count(*) AS n, count(DISTINCT event_id) AS n_distinct FROM (
  SELECT event_id, 'errors' AS receiver FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT event_id, 'highvalue' AS receiver FROM events WHERE value > 90
) GROUP BY receiver ORDER BY receiver
"""


EXT2_QUERIES: dict[str, QueryFn] = {
    "fanin_union": q_fanin_union,
    "shipping_priority": q_shipping_priority,
    "quality_score": q_quality_score,
    "alert_quantile": q_alert_quantile,
    "ottl_compiled": q_ottl_compiled,
    "exceptions_connector": q_exceptions,
    "delta_to_rate": q_delta_to_rate,
    "jsonarray_parser": q_jsonarray_parser,
    "range_enrich": q_range_enrich,
    "groupbyattrs": q_groupbyattrs,
    "stanza_filter_ratio": q_stanza_filter_ratio,
}

EXT2_ORACLES: dict[str, str] = {
    "fanin_union": O_FANIN,
    "shipping_priority": O_SHIPPING,
    "quality_score": O_QUALITY_SCORE,
    "alert_quantile": O_ALERT_QUANTILE,
    "ottl_compiled": O_OTTL_COMPILED,
    "exceptions_connector": O_EXCEPTIONS,
    "delta_to_rate": O_RATE,
    "jsonarray_parser": O_JSONARRAY,
    "range_enrich": O_RANGE_ENRICH,
    "groupbyattrs": O_GROUPBYATTRS,
    "stanza_filter_ratio": O_STANZA_FILTER,
}
