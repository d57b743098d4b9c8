"""Round-3 registry queries: OTTL span-context statements,
assign_keys transformer, and the streaming-graded surface for the
round-2 connectors (signaltometrics gauge / exponential-histogram
streams, fingerprint-deduped alert stream).

Each query has a DuckDB oracle; the streaming ones run REAL Structured
Streaming (readStream + availableNow + memory sink) and the batch SQL
oracle checks exact value equality with the batch-equivalent answer.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.signaltometrics import MetricInfo
from .base import QueryFn, load
from .queries_streaming import EVENTS_SCHEMA, _as_dir, _run_stream


# ---------------------------------------------------------------------------
# OTTL span context: span.* statements through the statement compiler
# (pkg/ottl/contexts/ottlspan/span.go path registry,
#  internal/ctxspan/span.go:24-115, symbols.go:12-22)
# ---------------------------------------------------------------------------

def q_ottl_span_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span-context statement list over the flat span model: enum
    writes (STATUS_CODE_ERROR), status sub-paths, kind.string
    conversion, span.attributes reads inside Concat, and a where
    clause on span.kind — the shapes transformprocessor trace configs
    use."""
    from ..functions.ottl_compiler import compile_statements, infer_context

    ev = load(spark, sf_dir, "events")
    spans = ev.select(
        "event_id",
        F.col("event_type").alias("name"),
        (F.col("user_id") % 6).cast("long").alias("kind"),
        F.lit(0).cast("long").alias("status_code"),
        F.lit("").alias("status_message"),
        F.create_map(F.lit("etype"), F.col("event_type")).alias("attributes"),
    )
    stmts = [
        'set(span.status.code, STATUS_CODE_ERROR) where span.name == "error"',
        'set(span.status.message, "boom") where span.status.code == STATUS_CODE_ERROR',
        'set(span.attributes["kind.str"], span.kind.string)',
        'set(span.name, Concat([span.name, span.attributes["etype"]], "-")) where span.kind == SPAN_KIND_SERVER',
    ]
    assert infer_context(stmts) == "span"
    out = compile_statements(stmts)(spans)
    return out.select(
        "event_id", "name", "status_code", "status_message",
        F.element_at("attributes", F.lit("kind.str")).alias("kind_str"),
    )


O_OTTL_SPAN_CONTEXT = """
SELECT event_id,
       CASE WHEN user_id % 6 = 2 THEN event_type || '-' || event_type
            ELSE event_type END AS name,
       CASE WHEN event_type = 'error' THEN 2 ELSE 0 END AS status_code,
       CASE WHEN event_type = 'error' THEN 'boom' ELSE '' END AS status_message,
       CASE user_id % 6 WHEN 0 THEN 'Unspecified' WHEN 1 THEN 'Internal'
            WHEN 2 THEN 'Server' WHEN 3 THEN 'Client'
            WHEN 4 THEN 'Producer' ELSE 'Consumer' END AS kind_str
FROM events
"""


# ---------------------------------------------------------------------------
# assign_keys transformer
# (pkg/stanza/operator/transformer/assignkeys/transformer.go:24-62)
# ---------------------------------------------------------------------------

def q_assign_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-valued cells -> maps with configured keys; rows whose list
    length mismatches the key count are dropped (on_error=drop, the
    reference test's error mode).  Exercises the JSON-cell decode path
    (the flat model's nested-slice encoding)."""
    from ..operators.transform import assign_keys

    ev = load(spark, sf_dir, "events")
    listed = ev.select(
        "event_id",
        F.to_json(
            F.when(
                F.col("event_id") % 10 == 0,
                F.array(F.col("event_type")),  # wrong arity -> dropped
            ).otherwise(
                F.array(
                    F.col("event_type"), F.col("user_id").cast("string")
                )
            )
        ).alias("input"),
    )
    out = assign_keys(listed, "input", ["etype", "user"], on_error="drop")
    return out.select(
        "event_id",
        F.element_at("input", F.lit("etype")).alias("etype"),
        F.element_at("input", F.lit("user")).alias("user"),
    )


O_ASSIGN_KEYS = """
SELECT event_id, event_type AS etype, CAST(user_id AS VARCHAR) AS user
FROM events WHERE event_id % 10 <> 0
"""


# ---------------------------------------------------------------------------
# streaming signaltometrics gauge / exponential histogram
# (connector/signaltometricsconnector README MetricInfo types, streamed
#  per tumbling window with watermark)
# ---------------------------------------------------------------------------

def _signal_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _as_dir(f"{sf_dir}/events.parquet")
    )
    return stream.select(
        F.col("event_id"),
        F.col("ts").alias("time"),
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("value").cast("string"),
        ).alias("attributes"),
    )


def q_stream_s2m_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import stream_signal_to_metrics

    cfg = MetricInfo(
        name="value_gauge", metric_type="gauge",
        value='Double(attributes["value"])',
        attributes=(("event_type",),), order_col="time",
    )
    out = stream_signal_to_metrics(
        _signal_stream(spark, sf_dir), cfg,
        ts_col="time", window="1 hour", watermark="2 hours",
    )
    _run_stream(out, "s2mg_agg")
    return spark.table("s2mg_agg").select(
        "window_start", "event_type", "value_gauge"
    )


O_STREAM_S2M_GAUGE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, arg_max(value, ts) AS value_gauge
FROM events GROUP BY 1, 2
"""


def q_stream_s2m_exphist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import stream_signal_to_metrics

    cfg = MetricInfo(
        name="value_exphist", metric_type="exponential_histogram",
        value='Double(attributes["value"])',
        attributes=(("event_type",),), scale=0,
    )
    out = stream_signal_to_metrics(
        _signal_stream(spark, sf_dir), cfg,
        ts_col="time", window="1 hour", watermark="2 hours",
    )
    _run_stream(out, "s2me_agg")
    return spark.table("s2me_agg").select(
        "window_start", "event_type", "bucket_idx", "bucket_count"
    )


O_STREAM_S2M_EXPHIST = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(ceil(round(log2(value), 9)) - 1 AS INT) AS bucket_idx,
       count(*) AS bucket_count
FROM events WHERE value > 0
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# streaming fingerprint-deduped alert stream (alertsgen dedup.Deduper;
# operators.aggregate.alert_fingerprint + dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------

def q_stream_alert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerts (error-count threshold per 5-min window per user bucket)
    streamed through the fingerprint dedup.  The dedup window exceeds
    the dataset's time span, so exactly one alert survives per
    fingerprint — the deterministic contract the oracle can check
    (shorter-window eviction behavior is covered by the streaming
    pytest suite)."""
    from ..operators.aggregate import alert_rule, alert_windows

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    bucketed = ev.withColumn("bucket", (F.col("user_id") % 4).cast("long"))
    windowed = alert_windows(
        bucketed, group_by=["bucket"], ts_col="ts", window="5 minutes",
        exprs={"n_errors": F.count(F.lit(1))},
    )
    alerts = alert_rule(windowed, "n_errors", threshold=1, comparison=">")

    # stream the alert feed through the dedup operator
    feed_dir = tempfile.mkdtemp(prefix="alertfeed-")
    alerts.select("window_start", "bucket", "n_errors").write.mode(
        "overwrite"
    ).parquet(feed_dir)
    stream = spark.readStream.schema(
        "window_start timestamp, bucket bigint, n_errors bigint"
    ).parquet(feed_dir)

    from ..streaming.pipeline import stream_alert_dedup

    dd = stream_alert_dedup(
        stream, "errors", ["bucket"],
        ts_col="window_start", dedup_window="365 days",
    )
    _run_stream(dd, "sad")
    return spark.table("sad").select("fingerprint", "bucket")


O_STREAM_ALERT_DEDUP = """
SELECT DISTINCT
       md5('errors' || chr(31) || 'bucket' || chr(31)
           || CAST(bucket AS VARCHAR)) AS fingerprint,
       bucket
FROM (
  SELECT user_id % 4 AS bucket, time_bucket(INTERVAL '5 minutes', ts) AS w,
         count(*) AS n
  FROM events WHERE event_type = 'error'
  GROUP BY 1, 2 HAVING count(*) > 1
)
"""


# ---------------------------------------------------------------------------
# transitive near-dup clustering: MinHash pairs -> connected components
# (web-scale dedup keeps one doc per duplicate CLUSTER; pairwise
#  neighbor-min representatives can keep a transitive duplicate)
# ---------------------------------------------------------------------------

def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from .queries_corpus import _MH_BANDS, _MH_K, _MH_N, _MH_T
    from ..operators import text as TX

    docs = load(spark, sf_dir, "documents")
    pairs = TX.minhash_lsh_dedup(
        docs, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, shingle_n=_MH_N,
        verify_threshold=_MH_T,
    )
    return connected_components(pairs, "id_a", "id_b").select(
        "vertex", "component"
    )


def _o_neardup_components() -> str:
    """Wrap the EXACT minhash pair pipeline (O_MINHASH_LSH's CTE chain)
    with a recursive reachability closure: component(v) = min id that
    reaches v.  Composing from the shared constant keeps the two
    oracles' candidate generation byte-identical."""
    from .queries_corpus import O_MINHASH_LSH

    body = O_MINHASH_LSH.strip()
    ctes, final = body.split("SELECT id_a, id_b, jaccard FROM", 1)
    ctes = ctes.strip()
    assert ctes.startswith("WITH ")
    ctes = ctes[len("WITH "):].rstrip().rstrip(",")
    return f"""
WITH RECURSIVE {ctes},
pairs AS (SELECT id_a, id_b FROM{final}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(vertex, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.vertex
)
SELECT vertex, min(r) AS component FROM reach GROUP BY vertex
"""


# ---------------------------------------------------------------------------
# sqlquery receiver: multi-poll metrics conversion
# (receiver/sqlqueryreceiver logs_receiver.go rowToMetric + tracking
#  advance across polls — the digit-boundary watermark regression test
#  as a graded query: start value 99, ids cross 100/1000/10000, a
#  lexicographic max would re-ingest thousands of rows and fail the
#  row-count match)
# ---------------------------------------------------------------------------

def q_sqlquery_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sqlquery import SQLQueryReceiver

    ev = load(spark, sf_dir, "events")
    # first "arrival": only ids <= 5000 visible
    ev.filter(F.col("event_id") <= 5000).createOrReplaceTempView("ev_feed")
    rx = SQLQueryReceiver(
        sql="SELECT event_id, event_type, value FROM ev_feed WHERE event_id > $1",
        tracking_column="event_id",
        tracking_start_value="99",
        metric_name="event.value",
        value_column="value",
        attribute_columns=("event_type",),
    )
    first = rx.to_metrics(rx.poll(spark))
    # feed grows; second poll must resume at the watermark, not re-read
    ev.createOrReplaceTempView("ev_feed")
    second = rx.to_metrics(rx.poll(spark))
    return first.unionByName(second).select(
        "metric_name", F.round("value", 2).alias("value"), "event_type"
    )


O_SQLQUERY_METRICS = """
SELECT 'event.value' AS metric_name, round(value, 2) AS value, event_type
FROM events WHERE event_id > 99
"""


O_NEARDUP_COMPONENTS = _o_neardup_components()


EXT5_QUERIES: dict[str, QueryFn] = {
    "neardup_components": q_neardup_components,
    "ottl_span_context": q_ottl_span_context,
    "assign_keys": q_assign_keys,
    "stream_s2m_gauge": q_stream_s2m_gauge,
    "stream_s2m_exphist": q_stream_s2m_exphist,
    "stream_alert_dedup": q_stream_alert_dedup,
    "sqlquery_metrics": q_sqlquery_metrics,
}

EXT5_ORACLES: dict[str, str] = {
    "ottl_span_context": O_OTTL_SPAN_CONTEXT,
    "assign_keys": O_ASSIGN_KEYS,
    "stream_s2m_gauge": O_STREAM_S2M_GAUGE,
    "stream_s2m_exphist": O_STREAM_S2M_EXPHIST,
    "stream_alert_dedup": O_STREAM_ALERT_DEDUP,
    "sqlquery_metrics": O_SQLQUERY_METRICS,
    "neardup_components": O_NEARDUP_COMPONENTS,
}
