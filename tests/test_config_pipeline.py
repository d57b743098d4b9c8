"""EP3: config dict (collector-YAML analog) → running pipeline, with
OTTL strings as the transform/filter/route surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.config import build_pipeline


def test_config_driven_pipeline(spark):
    records = spark.createDataFrame(
        [
            ("DEBUG noisy internals", 5, {"tool": ""}),
            ("ERROR payment failed", 17, {"tool": ""}),
            ("tool call done", 9, {"tool": "search"}),
            ("hello world", 9, {"tool": ""}),
        ],
        "body string, severity_number int, attributes map<string,string>",
    )
    role_dim = spark.createDataFrame(
        [("ERROR payment failed", "critical")], "body string, tier string"
    )
    config = {
        "transform": ['set(attributes["body_hash"], MD5(body))'],
        "filter": ['IsMatch(body, "^DEBUG")'],
        "enrich": [{"dim": "role_dim", "on": "body"}],
        "routes": [
            {"name": "alerts", "condition": "severity_number >= SEVERITY_NUMBER_WARN"},
            {"name": "tools", "condition": 'attributes["tool"] != ""'},
        ],
        "default_route": "catchall",
    }
    out = build_pipeline(config, records, dims={"role_dim": role_dim})
    rows = {r["body"]: r for r in out.collect()}

    assert "DEBUG noisy internals" not in rows          # filtered
    assert rows["ERROR payment failed"]["route"] == "alerts"
    assert rows["ERROR payment failed"]["tier"] == "critical"   # enriched
    assert rows["tool call done"]["route"] == "tools"
    assert rows["hello world"]["route"] == "catchall"
    # transform ran for every surviving row
    for r in rows.values():
        assert len(r["attributes"]["body_hash"]) == 32


def test_config_schema_span_and_metrics(spark):
    from opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        MetricInfo,
        signal_to_metrics,
    )
    from opentelemetry_collector_contrib_spark.plans.config import build_pipeline

    df = spark.createDataFrame(
        [
            ("old", {"net.peer.ip": "1.2.3.4", "db.svc": "pg",
                     "operation": "read", "value": "5"},
             "2024-01-01 00:00:00"),
            ("old", {"net.peer.ip": "5.6.7.8", "db.svc": "pg",
                     "operation": "write", "value": "7"},
             "2024-01-01 00:00:01"),
        ],
        "name string, attributes map<string,string>, time string",
    ).withColumn("time", F.to_timestamp("time"))

    cfg = {
        "schema": {"from": "1.7.0", "to": "1.20.0"},
        "span": {"name": {"from_attributes": ["db.svc", "operation"],
                          "separator": "::"}},
    }
    out = build_pipeline(cfg, df)
    rows = out.orderBy("time").collect()
    assert rows[0]["name"] == "pg::read"
    assert rows[0]["attributes"]["net.sock.peer.addr"] == "1.2.3.4"
    assert "net.peer.ip" not in rows[0]["attributes"]

    # signaltometrics over the configured pipeline's output
    info = MetricInfo(
        name="op.value.sum",
        metric_type="sum",
        value='Double(attributes["value"])',
        attributes=(("operation",),),
    )
    got = {r["operation"]: r["op.value.sum"]
           for r in signal_to_metrics(out, info).collect()}
    assert got == {"read": 5.0, "write": 7.0}
