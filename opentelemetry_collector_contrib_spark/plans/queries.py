"""Query registry: one entry per implemented operator (SURVEY.md §2),
each with a DuckDB oracle.

Every query is a callable ``(spark, sf_dir) -> DataFrame`` exercising
one operator from the engine over the driver's parquet testdata tables
(region nation customer supplier part orders lineitem events documents
embeddings). ``ORACLES[name]`` is the ANSI-SQL equivalent DuckDB runs
on the same tables; the driver hash-compares values column-name-sorted,
so every computed column is aliased identically on both sides.

Determinism rules used throughout:
- cross-engine hashing uses md5 over identical input strings (both
  engines produce the same hex), never engine-native hash functions;
- double aggregates are rounded (4 dp) before comparison;
- ordering keys always include a unique id to break ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import transform as TR
from ..operators.aggregate import (
    alert_rule,
    alert_windows,
    count_connector,
    cumulative_to_delta,
    delta_to_cumulative,
    explicit_histogram,
    recombine,
    sessionize,
    sum_connector,
)
from ..operators.enrich import broadcast_enrich
from ..operators.filter import filter_processor, tail_sampler
from ..operators.parse import json_parser, keyvalue_parser, severity_parser
from ..operators.route import Route, apply_routes

from .base import QueryFn, load  # noqa: E402


# ---------------------------------------------------------------------------
# count / sum connectors (connector/countconnector, connector/sumconnector)
# ---------------------------------------------------------------------------

def q_count_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return count_connector(ev, ["event_type"], metric_name="event_count").orderBy("event_type")


O_COUNT = """
SELECT event_type, count(*) AS event_count
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_sum_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = sum_connector(ev, "value", ["event_type"], metric_name="value_sum")
    return out.select("event_type", F.round("value_sum", 4).alias("value_sum"))


O_SUM = """
SELECT event_type, round(sum(value), 4) AS value_sum
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# routing connector (first-match-wins when() chain)
# ---------------------------------------------------------------------------

def q_route_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    routes = [
        Route("returns", F.col("l_returnflag") == "R"),
        Route("taxed", F.col("l_tax") > 0.05),
        Route("open", F.col("l_linestatus") == "O"),
    ]
    routed = apply_routes(li, routes, default="catchall")
    return routed.groupBy("route").agg(F.count(F.lit(1)).alias("n")).orderBy("route")


O_ROUTE = """
SELECT route, count(*) AS n FROM (
  SELECT CASE
    WHEN l_returnflag = 'R' THEN 'returns'
    WHEN l_tax > 0.05 THEN 'taxed'
    WHEN l_linestatus = 'O' THEN 'open'
    ELSE 'catchall' END AS route
  FROM lineitem
) GROUP BY route ORDER BY route
"""


# ---------------------------------------------------------------------------
# filter processor (drop when ANY OTTL condition true)
# ---------------------------------------------------------------------------

def q_filter_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = filter_processor(
        ev, [F.col("event_type") == "error", F.col("value") > 95.0]
    )
    return out.select("event_id", "event_type", F.round("value", 2).alias("value"))


O_FILTER = """
SELECT event_id, event_type, round(value, 2) AS value
FROM events
WHERE NOT (event_type = 'error' OR value > 95.0)
"""


# ---------------------------------------------------------------------------
# json parser (from_json; parser/json)
# ---------------------------------------------------------------------------

def q_json_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = json_parser(ev, "k int", parse_from="props", parse_to="parsed")
    return parsed.select("event_id", F.col("parsed.k").alias("k")).filter(
        F.col("k").isNotNull()
    )


O_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


# ---------------------------------------------------------------------------
# keyvalue parser round-trip (parser/keyvalue)
# ---------------------------------------------------------------------------

def q_keyvalue_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kv = ev.withColumn(
        "body", F.format_string("type=%s user=%d", F.col("event_type"), F.col("user_id"))
    )
    parsed = keyvalue_parser(kv, parse_from="body", parse_to="attrs")
    return parsed.select(
        "event_id",
        F.element_at("attrs", F.lit("type")).alias("kv_type"),
        F.element_at("attrs", F.lit("user")).cast("bigint").alias("kv_user"),
    )


O_KEYVALUE = """
SELECT event_id, event_type AS kv_type, user_id AS kv_user FROM events
"""


# ---------------------------------------------------------------------------
# severity parser: 24-level enum + aliases (helper/severity_builder.go)
# ---------------------------------------------------------------------------

def q_severity_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sev_text_raw = (
        F.when(F.col("event_type") == "error", "Error")
        .when(F.col("event_type") == "signup", "NOTICE")   # alias -> info2
        .when(F.col("event_type") == "purchase", "warning")  # alias -> warn
        .otherwise("info")
    )
    out = severity_parser(ev, sev_text_raw)
    return (
        out.groupBy("severity_number", "severity_text")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("severity_number")
    )


O_SEVERITY = """
SELECT severity_number, severity_text, count(*) AS n FROM (
  SELECT CASE
    WHEN event_type = 'error' THEN 17
    WHEN event_type = 'signup' THEN 10
    WHEN event_type = 'purchase' THEN 13
    ELSE 9 END AS severity_number,
  CASE
    WHEN event_type = 'error' THEN 'ERROR'
    WHEN event_type = 'purchase' THEN 'WARN'
    ELSE 'INFO' END AS severity_text
  FROM events
) GROUP BY 1, 2 ORDER BY severity_number
"""


# ---------------------------------------------------------------------------
# broadcast enrich, chained dims (k8sattributes pod->ns->node analog)
# ---------------------------------------------------------------------------

def q_enrich_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    # chain the dims dim-side first (nation ⋈ region), then one
    # broadcast join onto the fact — the fact table is touched once.
    dim = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )
    enriched = broadcast_enrich(cust, dim, on="c_nationkey")
    return (
        enriched.groupBy("region_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
        )
        .orderBy("region_name")
    )


O_ENRICH = """
SELECT r.r_name AS region_name,
       count(*) AS n_customers,
       round(sum(c.c_acctbal), 2) AS acctbal_sum
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# logdedup processor: first + count per (window, key)
# ---------------------------------------------------------------------------

def q_log_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), "user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count(F.lit(1)).alias("log_count"),
            F.min("ts").alias("first_observed_ts"),
            F.max("ts").alias("last_observed_ts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "event_type",
            "first_event_id",
            "log_count",
            "first_observed_ts",
            "last_observed_ts",
        )
    )


O_DEDUP = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       user_id, event_type,
       min(event_id) AS first_event_id,
       count(*) AS log_count,
       min(ts) AS first_observed_ts,
       max(ts) AS last_observed_ts
FROM events GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# delta -> cumulative (running sum per stream)
# ---------------------------------------------------------------------------

def q_delta_to_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__ord", F.struct("ts", "event_id"))
    out = delta_to_cumulative(ev, ["user_id"], "value", ts_col="__ord", out_col="cum")
    return out.select("event_id", F.round("cum", 4).alias("value_cumulative"))


O_D2C = """
SELECT event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS value_cumulative
FROM events
"""


def q_cumulative_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__ord", F.struct("ts", "event_id"))
    out = cumulative_to_delta(ev, ["user_id"], "value", ts_col="__ord", out_col="delta")
    return out.select("event_id", F.round("delta", 4).alias("value_delta"))


O_C2D = """
SELECT event_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
         AS value_delta
FROM events
"""


# ---------------------------------------------------------------------------
# interval processor: last datapoint per (stream, interval), ties broken
# by event_id (processor/intervalprocessor/processor.go:72-150)
# ---------------------------------------------------------------------------

def q_interval_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    w = W.partitionBy(win, "user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.window(F.col("ts"), "1 hour")["start"].alias("window_start"),
            "user_id",
            F.col("event_id").alias("last_event_id"),
        )
    )


O_INTERVAL = """
SELECT window_start, user_id, event_id AS last_event_id FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, user_id, event_id,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts), user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# sessionization (groupbytrace / session-window analog)
# ---------------------------------------------------------------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], ts_col="ts", gap="30 minutes")
    return s.groupBy("user_id").agg(F.max("session_seq").alias("n_sessions")).orderBy("user_id")


O_SESSION = """
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# recombine (multiline reassembly): prefix-sum group ids + ordered concat
# ---------------------------------------------------------------------------

def q_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn("__ord", F.struct("ts", "event_id"))
    out = recombine(
        ev,
        source_cols=["user_id"],
        order_col="__ord",
        is_first_entry=F.col("event_type") == "signup",
        combine_col="event_type",
        combine_with="|",
    )
    return out.select("user_id", "event_type", "recombined_count")


O_RECOMBINE = """
SELECT user_id,
       string_agg(event_type, '|' ORDER BY ts, event_id) AS event_type,
       count(*) AS recombined_count
FROM (
  SELECT user_id, event_type, ts, event_id, grp,
         -- max_batch_size=1000 default (recombine config.go:40):
         -- sub-split every 1000 rows within a group
         CAST(floor((row_number() OVER (PARTITION BY user_id, grp
                                        ORDER BY ts, event_id) - 1)
                    / 1000) AS BIGINT) AS grp_part
  FROM (
    SELECT user_id, event_type, ts, event_id,
           sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS grp
    FROM events
  )
) GROUP BY user_id, grp, grp_part
"""


# ---------------------------------------------------------------------------
# alertsgen: sliding-window agg + threshold rule
# ---------------------------------------------------------------------------

def q_alert_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    windowed = alert_windows(
        ev, group_by=[], ts_col="ts", window="5 minutes",
        exprs={"n_errors": F.count(F.lit(1))},
    )
    fired = alert_rule(windowed, "n_errors", threshold=2, comparison=">")
    return fired.select("window_start", "n_errors")


O_ALERT = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
       count(*) AS n_errors
FROM events WHERE event_type = 'error'
GROUP BY 1 HAVING count(*) > 2
"""


# ---------------------------------------------------------------------------
# probabilistic sampler — md5-consistent variant (cross-engine hash)
# ---------------------------------------------------------------------------

def q_probabilistic_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # consistent ~12.5% sample: hash the randomness source, compare the
    # hex prefix (string compare is engine-independent)
    h = F.md5(F.col("event_id").cast("string"))
    return ev.filter(F.substring(h, 1, 4) < "2000").select("event_id", "event_type")


O_SAMPLER = """
SELECT event_id, event_type FROM events
WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 4) < '2000'
"""


# ---------------------------------------------------------------------------
# tail sampler: keep whole groups passing a policy
# ---------------------------------------------------------------------------

def q_tail_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    kept = tail_sampler(li, "l_orderkey", F.max(F.col("l_returnflag") == "R"))
    return kept.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("l_linestatus")


O_TAIL = """
SELECT l_linestatus, count(*) AS n_kept
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM lineitem x
              WHERE x.l_orderkey = l.l_orderkey AND x.l_returnflag = 'R')
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# spanmetrics-style explicit histogram
# ---------------------------------------------------------------------------

def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return explicit_histogram(
        li, "l_quantity", bounds=[10.0, 20.0, 30.0, 40.0], group_by=["l_returnflag"]
    ).orderBy("l_returnflag", "bucket_idx")


O_HISTOGRAM = """
SELECT l_returnflag,
       CASE WHEN l_quantity <= 10 THEN 0
            WHEN l_quantity <= 20 THEN 1
            WHEN l_quantity <= 30 THEN 2
            WHEN l_quantity <= 40 THEN 3
            ELSE 4 END AS bucket_idx,
       count(*) AS bucket_count
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# attributes processor: map edits (upsert/hash/keep) over MAP column
# ---------------------------------------------------------------------------

def q_attributes_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    attrs = F.from_json(F.col("props"), "map<string,string>")
    attrs = TR.map_set(attrs, "et", F.col("event_type"))
    attrs = TR.map_hash_key(attrs, "et", algo="sha256")
    attrs = TR.map_insert(attrs, "k", F.lit("SHOULD_NOT_WIN"))  # k exists -> keep
    return ev.select(
        "event_id",
        F.element_at(attrs, F.lit("k")).cast("int").alias("k"),
        F.element_at(attrs, F.lit("et")).alias("et_hashed"),
    )


O_ATTRS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       sha256(event_type) AS et_hashed
FROM events
"""


# ---------------------------------------------------------------------------
# TPC-H-style pricing summary (general agg capability; bench headliner)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


O_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "count_connector": q_count_connector,
    "sum_connector": q_sum_connector,
    "route_connector": q_route_connector,
    "filter_processor": q_filter_processor,
    "json_parser": q_json_parser,
    "keyvalue_parser": q_keyvalue_parser,
    "severity_parser": q_severity_parser,
    "enrich_chained": q_enrich_chained,
    "log_dedup": q_log_dedup,
    "delta_to_cumulative": q_delta_to_cumulative,
    "cumulative_to_delta": q_cumulative_to_delta,
    "interval_last": q_interval_last,
    "sessionize": q_sessionize,
    "recombine": q_recombine,
    "alert_rule": q_alert_rule,
    "probabilistic_sampler": q_probabilistic_sampler,
    "tail_sampler": q_tail_sampler,
    "explicit_histogram": q_histogram,
    "attributes_processor": q_attributes_processor,
    "pricing_summary": q_pricing_summary,
}

_ORACLES_BASE: dict[str, str] = {
    "count_connector": O_COUNT,
    "sum_connector": O_SUM,
    "route_connector": O_ROUTE,
    "filter_processor": O_FILTER,
    "json_parser": O_JSON,
    "keyvalue_parser": O_KEYVALUE,
    "severity_parser": O_SEVERITY,
    "enrich_chained": O_ENRICH,
    "log_dedup": O_DEDUP,
    "delta_to_cumulative": O_D2C,
    "cumulative_to_delta": O_C2D,
    "interval_last": O_INTERVAL,
    "sessionize": O_SESSION,
    "recombine": O_RECOMBINE,
    "alert_rule": O_ALERT,
    "probabilistic_sampler": O_SAMPLER,
    "tail_sampler": O_TAIL,
    "explicit_histogram": O_HISTOGRAM,
    "attributes_processor": O_ATTRS,
    "pricing_summary": O_PRICING,
}

ORACLES: dict[str, str] = dict(_ORACLES_BASE)

# merge the corpus / training-data registry (dedup, similarity,
# text analysis, multimodal) — imported late to avoid a cycle
from .queries_corpus import CORPUS_ORACLES, CORPUS_QUERIES  # noqa: E402

QUERIES.update(CORPUS_QUERIES)
ORACLES.update(CORPUS_ORACLES)

from .queries_ext import EXT_ORACLES, EXT_QUERIES  # noqa: E402

QUERIES.update(EXT_QUERIES)
ORACLES.update(EXT_ORACLES)

from .queries_streaming import STREAMING_ORACLES, STREAMING_QUERIES  # noqa: E402

QUERIES.update(STREAMING_QUERIES)
ORACLES.update(STREAMING_ORACLES)

from .queries_ext2 import EXT2_ORACLES, EXT2_QUERIES  # noqa: E402

QUERIES.update(EXT2_QUERIES)
ORACLES.update(EXT2_ORACLES)

from .queries_ext3 import EXT3_ORACLES, EXT3_QUERIES  # noqa: E402

QUERIES.update(EXT3_QUERIES)
ORACLES.update(EXT3_ORACLES)

from .queries_ext4 import EXT4_ORACLES, EXT4_QUERIES  # noqa: E402

QUERIES.update(EXT4_QUERIES)
ORACLES.update(EXT4_ORACLES)

from .queries_ext5 import EXT5_ORACLES, EXT5_QUERIES  # noqa: E402

QUERIES.update(EXT5_QUERIES)
ORACLES.update(EXT5_ORACLES)

from .queries_ext6 import EXT6_ORACLES, EXT6_QUERIES  # noqa: E402

QUERIES.update(EXT6_QUERIES)
ORACLES.update(EXT6_ORACLES)

from .queries_ext7 import EXT7_ORACLES, EXT7_QUERIES  # noqa: E402

QUERIES.update(EXT7_QUERIES)
ORACLES.update(EXT7_ORACLES)

from .queries_ext8 import EXT8_ORACLES, EXT8_QUERIES  # noqa: E402

QUERIES.update(EXT8_QUERIES)
ORACLES.update(EXT8_ORACLES)

from .queries_ext9 import EXT9_ORACLES, EXT9_QUERIES  # noqa: E402

QUERIES.update(EXT9_QUERIES)
ORACLES.update(EXT9_ORACLES)

from .queries_ext10 import EXT10_ORACLES, EXT10_QUERIES  # noqa: E402

QUERIES.update(EXT10_QUERIES)
ORACLES.update(EXT10_ORACLES)

from .queries_ext11 import EXT11_ORACLES, EXT11_QUERIES  # noqa: E402

QUERIES.update(EXT11_QUERIES)
ORACLES.update(EXT11_ORACLES)

from .queries_ext12 import EXT12_ORACLES, EXT12_QUERIES  # noqa: E402

QUERIES.update(EXT12_QUERIES)
ORACLES.update(EXT12_ORACLES)

from .queries_ext13 import EXT13_ORACLES, EXT13_QUERIES  # noqa: E402

QUERIES.update(EXT13_QUERIES)
ORACLES.update(EXT13_ORACLES)

from .queries_ext14 import EXT14_ORACLES, EXT14_QUERIES  # noqa: E402

QUERIES.update(EXT14_QUERIES)
ORACLES.update(EXT14_ORACLES)

from .queries_ext15 import EXT15_ORACLES, EXT15_QUERIES  # noqa: E402

QUERIES.update(EXT15_QUERIES)
ORACLES.update(EXT15_ORACLES)

from .queries_ext16 import EXT16_ORACLES, EXT16_QUERIES  # noqa: E402

QUERIES.update(EXT16_QUERIES)
ORACLES.update(EXT16_ORACLES)

from .queries_ext17 import EXT17_ORACLES, EXT17_QUERIES  # noqa: E402

QUERIES.update(EXT17_QUERIES)
ORACLES.update(EXT17_ORACLES)

from .queries_ext18 import EXT18_ORACLES, EXT18_QUERIES  # noqa: E402

QUERIES.update(EXT18_QUERIES)
ORACLES.update(EXT18_ORACLES)

from .queries_ext19 import EXT19_ORACLES, EXT19_QUERIES  # noqa: E402

QUERIES.update(EXT19_QUERIES)
ORACLES.update(EXT19_ORACLES)

from .queries_ext20 import EXT20_ORACLES, EXT20_QUERIES  # noqa: E402

QUERIES.update(EXT20_QUERIES)
ORACLES.update(EXT20_ORACLES)

from .queries_ext21 import EXT21_ORACLES, EXT21_QUERIES  # noqa: E402

QUERIES.update(EXT21_QUERIES)
ORACLES.update(EXT21_ORACLES)

from .queries_ext22 import EXT22_ORACLES, EXT22_QUERIES  # noqa: E402

QUERIES.update(EXT22_QUERIES)
ORACLES.update(EXT22_ORACLES)

from .queries_ext23 import EXT23_ORACLES, EXT23_QUERIES  # noqa: E402

QUERIES.update(EXT23_QUERIES)
ORACLES.update(EXT23_ORACLES)

from .queries_ext24 import EXT24_ORACLES, EXT24_QUERIES  # noqa: E402

QUERIES.update(EXT24_QUERIES)
ORACLES.update(EXT24_ORACLES)

from .queries_ext25 import EXT25_ORACLES, EXT25_QUERIES  # noqa: E402

QUERIES.update(EXT25_QUERIES)
ORACLES.update(EXT25_ORACLES)

from .queries_ext26 import EXT26_ORACLES, EXT26_QUERIES  # noqa: E402

QUERIES.update(EXT26_QUERIES)
ORACLES.update(EXT26_ORACLES)

from .queries_ext27 import EXT27_ORACLES, EXT27_QUERIES  # noqa: E402

QUERIES.update(EXT27_QUERIES)
ORACLES.update(EXT27_ORACLES)

from .queries_ext28 import EXT28_ORACLES, EXT28_QUERIES  # noqa: E402

QUERIES.update(EXT28_QUERIES)
ORACLES.update(EXT28_ORACLES)

from .queries_ext29 import EXT29_ORACLES, EXT29_QUERIES  # noqa: E402

QUERIES.update(EXT29_QUERIES)
ORACLES.update(EXT29_ORACLES)

from .queries_ext30 import EXT30_ORACLES, EXT30_QUERIES  # noqa: E402

QUERIES.update(EXT30_QUERIES)
ORACLES.update(EXT30_ORACLES)

from .queries_ext31 import EXT31_ORACLES, EXT31_QUERIES  # noqa: E402

QUERIES.update(EXT31_QUERIES)
ORACLES.update(EXT31_ORACLES)

from .queries_ext32 import EXT32_ORACLES, EXT32_QUERIES  # noqa: E402

QUERIES.update(EXT32_QUERIES)
ORACLES.update(EXT32_ORACLES)

from .queries_ext33 import EXT33_ORACLES, EXT33_QUERIES  # noqa: E402

QUERIES.update(EXT33_QUERIES)
ORACLES.update(EXT33_ORACLES)

from .queries_ext34 import EXT34_ORACLES, EXT34_QUERIES  # noqa: E402

QUERIES.update(EXT34_QUERIES)
ORACLES.update(EXT34_ORACLES)

from .queries_ext35 import EXT35_ORACLES, EXT35_QUERIES  # noqa: E402

QUERIES.update(EXT35_QUERIES)
ORACLES.update(EXT35_ORACLES)

from .queries_ext36 import EXT36_ORACLES, EXT36_QUERIES  # noqa: E402

QUERIES.update(EXT36_QUERIES)
ORACLES.update(EXT36_ORACLES)

from .queries_ext37 import EXT37_ORACLES, EXT37_QUERIES  # noqa: E402

QUERIES.update(EXT37_QUERIES)
ORACLES.update(EXT37_ORACLES)

from .queries_ext38 import EXT38_ORACLES, EXT38_QUERIES  # noqa: E402

QUERIES.update(EXT38_QUERIES)
ORACLES.update(EXT38_ORACLES)

from .queries_ext39 import EXT39_ORACLES, EXT39_QUERIES  # noqa: E402

QUERIES.update(EXT39_QUERIES)
ORACLES.update(EXT39_ORACLES)

from .queries_ext40 import EXT40_ORACLES, EXT40_QUERIES  # noqa: E402

QUERIES.update(EXT40_QUERIES)
ORACLES.update(EXT40_ORACLES)
