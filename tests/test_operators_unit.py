"""Per-operator golden tests (SURVEY §5(a) style): small DataFrames in,
exact expected rows out — stanza transformers, attraction actions, OTTL
map editors, enrich joins, routing, filters, aggregations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.ottl import ExtractPatterns
from opentelemetry_collector_contrib_spark.operators import transform as TR
from opentelemetry_collector_contrib_spark.operators.aggregate import (
    alert_rule,
    count_connector,
    cumulative_to_delta,
    delta_to_cumulative,
    explicit_histogram,
    group_by_attrs,
    recombine,
    sum_connector,
)
from opentelemetry_collector_contrib_spark.operators.enrich import (
    broadcast_enrich,
    range_enrich,
)
from opentelemetry_collector_contrib_spark.operators.filter import (
    filter_processor,
    probabilistic_sampler,
)
from opentelemetry_collector_contrib_spark.operators.route import (
    Route,
    apply_routes,
)


@pytest.fixture(scope="module")
def attrs_df(spark):
    return spark.createDataFrame(
        [(1, {"a": "1", "b": "2"}), (2, {"b": "x"}), (3, {})],
        "id long, attrs map<string,string>",
    )


def _attrs(df, col):
    return {r["id"]: r["out"] for r in df.select("id", col.alias("out")).collect()}


def test_map_set_and_insert_and_update(attrs_df):
    a = F.col("attrs")
    got = _attrs(attrs_df, TR.map_set(a, "b", F.lit("9")))
    assert got[1] == {"a": "1", "b": "9"} and got[2] == {"b": "9"}
    got = _attrs(attrs_df, TR.map_insert(a, "b", F.lit("9")))
    assert got[1]["b"] == "2" and got[3] == {"b": "9"}  # only-if-absent
    update = F.create_map(F.lit("b"), F.lit("9"))
    got = _attrs(attrs_df, TR.map_merge(a, update, "update"))
    assert got[1]["b"] == "9" and got[3] == {}  # only-if-present


def test_map_delete_keep_merge(attrs_df):
    a = F.col("attrs")
    assert _attrs(attrs_df, TR.map_delete_key(a, "a"))[1] == {"b": "2"}
    assert _attrs(attrs_df, TR.map_keep_keys(a, ["a"]))[1] == {"a": "1"}
    b = F.create_map(F.lit("b"), F.lit("NEW"), F.lit("c"), F.lit("3"))
    up = _attrs(attrs_df, TR.map_merge(a, b, "upsert"))
    assert up[1] == {"a": "1", "b": "NEW", "c": "3"}
    ins = _attrs(attrs_df, TR.map_merge(a, b, "insert"))
    assert ins[1] == {"a": "1", "b": "2", "c": "3"}
    upd = _attrs(attrs_df, TR.map_merge(a, b, "update"))
    assert upd[1] == {"a": "1", "b": "NEW"}


def test_map_limit_priority_and_truncate(attrs_df):
    a = F.col("attrs")
    lim = _attrs(attrs_df, TR.map_limit(a, 1, priority_keys=["b"]))
    assert lim[1] == {"b": "2"}  # priority key survives the cap
    tr = _attrs(attrs_df, TR.map_truncate_all(F.create_map(F.lit("k"), F.lit("abcdef")), 3))
    assert tr[1] == {"k": "abc"}


def test_map_extract_and_hash(spark):
    df = spark.createDataFrame(
        [(1, {"line": "user=alice id=7"})], "id long, attrs map<string,string>"
    )
    # attraction EXTRACT: named groups of one value upserted into the map
    line = F.element_at("attrs", F.lit("line"))
    ext = TR.map_merge(
        F.col("attrs"), ExtractPatterns(line, r"user=(?<user>\w+) id=(?<uid>\d+)")
    )
    got = df.select(ext.alias("out")).collect()[0]["out"]
    assert got["user"] == "alice" and got["uid"] == "7"
    hashed = df.select(
        TR.map_hash_key(
            F.create_map(F.lit("pw"), F.lit("secret")), "pw", "sha256"
        ).alias("out")
    ).collect()[0]["out"]
    assert hashed["pw"] == (
        "2bb80d537b1da3e38bd30361aa855686bde0eacd7162fef6a25fe97bf527a25b"
    )


# ---------------------------------------------------------------------------
# enrich
# ---------------------------------------------------------------------------

def test_broadcast_enrich_insert_if_absent(spark):
    fact = spark.createDataFrame(
        [(1, "x", None), (2, "y", "keep-me"), (3, "zz", None)],
        "id long, k string, team string",
    )
    dim = spark.createDataFrame([("x", "tx"), ("y", "ty")], "k string, team string")
    out = {r["id"]: r["team"] for r in broadcast_enrich(fact, dim, on="k").collect()}
    assert out[1] == "tx"          # filled from dim
    assert out[2] == "keep-me"     # existing non-empty wins (k8sattributes rule)
    assert out[3] is None          # unknown key -> left-join null path


def test_range_enrich(spark):
    fact = spark.createDataFrame([(5,), (15,), (99,)], "v int")
    dim = spark.createDataFrame([(0, 9, "low"), (10, 19, "mid")], "lo int, hi int, band string")
    got = {r["v"]: r["band"] for r in range_enrich(fact, dim, "v", "lo", "hi").collect()}
    assert got == {5: "low", 15: "mid", 99: None}


# ---------------------------------------------------------------------------
# route
# ---------------------------------------------------------------------------

def test_route_first_match_wins_and_null_is_false(spark):
    df = spark.createDataFrame(
        [(1, 20, None), (2, 5, "t"), (3, 5, None), (4, None, None)],
        "id long, sev int, tool string",
    )
    routes = [
        Route("alerts", F.col("sev") >= 10),
        Route("tools", F.col("tool").isNotNull()),
    ]
    routed = apply_routes(df, routes, default="rest")
    got = {r["id"]: r["route"] for r in routed.collect()}
    # id=4: sev NULL -> condition NULL -> treated false
    assert got == {1: "alerts", 2: "tools", 3: "rest", 4: "rest"}
    sent = routed.groupBy("route").count().collect()
    assert sum(r["count"] for r in sent) == df.count()  # sent==received


# ---------------------------------------------------------------------------
# filters / samplers
# ---------------------------------------------------------------------------

def test_filter_processor_null_condition_is_false(spark):
    df = spark.createDataFrame([(1, None), (2, 99), (3, 1)], "id long, v int")
    out = filter_processor(df, [F.col("v") > 50])
    assert {r["id"] for r in out.collect()} == {1, 3}  # NULL cond -> keep


def test_probabilistic_sampler_consistency(spark):
    df = spark.createDataFrame([(f"trace-{i}",) for i in range(500)], "trace_id string")
    a = {r["trace_id"] for r in probabilistic_sampler(df, 25.0).collect()}
    b = {r["trace_id"] for r in probabilistic_sampler(df, 25.0).collect()}
    assert a == b                      # same keys always sample the same
    assert 50 < len(a) < 200           # ~125 expected
    bigger = {r["trace_id"] for r in probabilistic_sampler(df, 50.0).collect()}
    assert a <= bigger                 # threshold monotonicity (consistent sampling)


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------

def test_recombine_multiline_golden(spark):
    rows = [
        ("f1", 0, "ERROR boom", 1), ("f1", 1, "  at a.b", 0), ("f1", 2, "  at c.d", 0),
        ("f1", 3, "INFO ok", 1),
        ("f2", 0, "lonely", 1),
    ]
    df = spark.createDataFrame(rows, "src string, idx long, text string, first int")
    out = recombine(
        df, ["src"], "idx", F.col("first") == 1, combine_col="text"
    )
    got = {(r["src"], r["text"]): r["recombined_count"] for r in out.collect()}
    assert got[("f1", "ERROR boom\n  at a.b\n  at c.d")] == 3
    assert got[("f1", "INFO ok")] == 1
    assert got[("f2", "lonely")] == 1


def test_delta_cumulative_roundtrip(spark):
    df = spark.createDataFrame(
        [("s", 1, 10.0), ("s", 2, 5.0), ("s", 3, 2.0)], "k string, t int, v double"
    )
    cum = delta_to_cumulative(df, ["k"], "v", ts_col="t", out_col="c")
    back = cumulative_to_delta(cum, ["k"], "c", ts_col="t", out_col="d")
    rows = {r["t"]: (r["c"], r["d"]) for r in back.collect()}
    assert rows[1] == (10.0, None) and rows[2] == (15.0, 5.0) and rows[3] == (17.0, 2.0)


def test_alert_rule_for_windows_streak(spark):
    rows = [(i, 10.0 if i in (2, 3, 4, 7) else 1.0) for i in range(9)]
    df = spark.createDataFrame(
        [(f"2024-01-01 00:0{i}:00", v) for i, v in rows], "window_start string, m double"
    )
    fired = alert_rule(df, "m", threshold=5.0, for_windows=2)
    got = sorted(r["window_start"] for r in fired.collect())
    # breach run 2,3,4 -> fires at 3 and 4 (streak>=2); isolated 7 never fires
    assert got == ["2024-01-01 00:03:00", "2024-01-01 00:04:00"]


def test_histogram_bucket_edges(spark):
    df = spark.createDataFrame([("a", 10.0), ("a", 10.01), ("a", 50.0)], "g string, v double")
    out = explicit_histogram(df, "v", bounds=[10.0, 20.0], group_by=["g"])
    got = {r["bucket_idx"]: r["bucket_count"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 1}  # <=10 | (10,20] | +Inf


def test_count_and_sum_connectors_skip_null_attrs_and_values(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", None), ("a", None, 4.0),
         ("b", "y", 2.0), (None, "y", 8.0)],
        "svc string, op string, v double",
    )
    # counter.go:70-73: a row with a NULL grouped attribute is not counted
    counts = {(r["svc"], r["op"]): r["count"]
              for r in count_connector(df, ["svc", "op"]).collect()}
    assert counts == {("a", "x"): 2, ("b", "y"): 1}
    # sumconnector also skips a NULL value
    sums = {(r["svc"], r["op"]): r["sum"]
            for r in sum_connector(df, "v", ["svc", "op"]).collect()}
    assert sums == {("a", "x"): 1.0, ("b", "y"): 2.0}


def test_group_by_attrs_promotes_into_resource(spark):
    df = spark.createDataFrame(
        [(1, "h1", "podA")], "id long, host string, pod string"
    ).withColumn("resource", F.struct(F.col("host")))
    out = group_by_attrs(df, ["pod"]).collect()[0]
    assert out["resource"]["pod"] == "podA" and out["resource"]["host"] == "h1"
    assert "pod" not in [c for c in group_by_attrs(df, ["pod"]).columns if c != "resource"]


def test_recombine_is_last_entry(spark):
    """stanza recombine with is_last_entry: a matching row CLOSES its
    group (transformer_test.go TwoEntriesLast / EntriesNonMatching)."""
    from opentelemetry_collector_contrib_spark.operators.aggregate import recombine

    df = spark.createDataFrame(
        [
            ("f1", 1, "part1"),
            ("f1", 2, "part2 end"),   # closes group 0
            ("f1", 3, "part3"),
            ("f1", 4, "part4 end"),   # closes group 1
            ("f1", 5, "tail"),        # unterminated group 2
        ],
        "path string, seq int, text string",
    )
    out = recombine(
        df, ["path"], "seq",
        is_last_entry=F.col("text").endswith("end"),
        combine_col="text",
    ).orderBy("seq").collect()
    texts = [r["text"] for r in out]
    assert texts == ["part1\npart2 end", "part3\npart4 end", "tail"]


def test_recombine_overwrite_with_newest(spark):
    from opentelemetry_collector_contrib_spark.operators.aggregate import recombine

    df = spark.createDataFrame(
        [("f1", 1, "a", "m1"), ("f1", 2, "b", "m2")],
        "path string, seq int, text string, meta string",
    )
    newest = recombine(
        df, ["path"], "seq",
        is_first_entry=F.col("seq") == 1,
        combine_col="text", overwrite_with="newest",
    ).first()
    assert newest["text"] == "a\nb" and newest["meta"] == "m2"
    oldest = recombine(
        df, ["path"], "seq",
        is_first_entry=F.col("seq") == 1,
        combine_col="text", overwrite_with="oldest",
    ).first()
    assert oldest["meta"] == "m1"


def test_severity_parser_http_range_mapping(spark):
    """severity_builder.go HTTP2xx..5xx aliases + int/string/range
    custom mapping overlay."""
    from opentelemetry_collector_contrib_spark.operators.parse import severity_parser

    df = spark.createDataFrame(
        [("200",), ("404",), ("503",), ("250",), ("oops",), ("7",)],
        "status string",
    )
    out = severity_parser(
        df, "status",
        mapping={
            "info": ["2xx"],
            "warn": ["4xx", {"min": 300, "max": 399}],
            "error": ["5xx", "oops"],
            "fatal": [7],
        },
    ).collect()
    got = {r["status"]: r["severity_text"] for r in out}
    assert got == {
        "200": "INFO", "250": "INFO", "404": "WARN",
        "503": "ERROR", "oops": "ERROR", "7": "FATAL",
    }


def test_time_parser_fractional_epoch(spark):
    """helper/time.go s.ms / s.us / s.ns fractional epoch layouts."""
    from opentelemetry_collector_contrib_spark.operators.parse import time_parser

    df = spark.createDataFrame(
        [("1136214245.123",)], "e string"
    )
    # tz-robust: read the epoch micros back server-side
    out = (
        time_parser(df, "e", "s.ms", layout_type="epoch")
        .select(F.unix_micros("ts").alias("us"))
        .first()["us"]
    )
    assert out == 1136214245123000
    whole = (
        time_parser(
            spark.createDataFrame([("1136214245",)], "e string"),
            "e", "s", layout_type="epoch",
        )
        .select(F.unix_micros("ts").alias("us"))
        .first()["us"]
    )
    assert whole == 1136214245000000


def test_time_parser_epoch_units(spark):
    from opentelemetry_collector_contrib_spark.operators.parse import time_parser

    base = 1136214245
    cases = [
        ("s", str(base)),
        ("ms", str(base * 1000 + 123)),
        ("us", str(base * 1_000_000 + 123456)),
        ("ns", str(base * 1_000_000_000 + 123456789)),
    ]
    for unit, raw in cases:
        us = (
            time_parser(
                spark.createDataFrame([(raw,)], "e string"),
                "e", unit, layout_type="epoch",
            )
            .select(F.unix_micros("ts").alias("us"))
            .first()["us"]
        )
        assert us // 1_000_000 == base, (unit, us)


@pytest.mark.parametrize("protocol, line", [
    ("rfc5424", "<165>1 2003-10-11T22:14:15.003Z host app 42 ID47 - hello"),
    ("rfc3164", "<34>Oct 11 22:14:15 mymachine su: 'su root' failed"),
], ids=["rfc5424", "rfc3164"])
def test_syslog_parser_keeps_non_syslog_line(spark, protocol, line):
    from opentelemetry_collector_contrib_spark.operators.parse import syslog_parser

    df = spark.createDataFrame([(1, line), (2, "not a syslog line")], "id long, body string")
    rows = {r["id"]: r for r in syslog_parser(df, protocol=protocol).collect()}
    assert (rows[1]["facility"], rows[1]["severity_number"]) == (
        (20, 13) if protocol == "rfc5424" else (4, 22))
    bad = rows[2]  # on_error send: the row stays, its typed fields are NULL
    assert bad["syslog_priority"] is None and bad["severity_number"] is None
    if protocol == "rfc5424":
        assert bad["syslog_version"] is None and bad["syslog_ts"] is None
