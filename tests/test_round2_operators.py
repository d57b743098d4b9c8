"""Round-2 operator units: strptime directive table (pinned 1:1 to
ctimefmt.go:25-66), exponential histogram, alertsgen absent/rate/storm
/fingerprint, tail-sampling named policies, isolation forest, multi-
table LSH.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.strptime import (
    _DIRECTIVES,
    strptime_parse,
)


# ---------------------------------------------------------------------------
# strptime directive table (VERDICT "What's wrong" #1)
# ---------------------------------------------------------------------------

# every directive in the reference's ctimeSubstitutes (ctimefmt.go:25-66)
_REFERENCE_DIRECTIVES = [
    "%Y", "%y", "%m", "%o", "%q", "%b", "%h", "%B", "%d", "%e", "%g",
    "%a", "%A", "%H", "%l", "%I", "%p", "%P", "%M", "%S", "%L", "%f",
    "%s", "%Z", "%z", "%w", "%i", "%j", "%k", "%D", "%x", "%F", "%T",
    "%X", "%r", "%R", "%n", "%t", "%%", "%c",
]


def test_directive_table_covers_reference():
    missing = [d for d in _REFERENCE_DIRECTIVES if d not in _DIRECTIVES]
    assert not missing, f"directives missing vs ctimefmt.go: {missing}"


def test_fixed_mistranslations():
    # %s is 9-digit fractional NANOseconds (ctimefmt.go: "999999999"),
    # %j is the -07:00 UTC offset — the round-1 table had both wrong
    assert _DIRECTIVES["%s"] == "SSSSSSSSS"
    assert _DIRECTIVES["%j"] == "xxx"
    assert _DIRECTIVES["%L"] == "SSS"


def test_directive_roundtrip_parse(spark):
    cases = [
        ("2024-03-05 06:07:08", "%Y-%m-%d %H:%M:%S", datetime(2024, 3, 5, 6, 7, 8)),
        ("03/05/2024", "%D", datetime(2024, 3, 5)),
        ("03/05/2024", "%x", datetime(2024, 3, 5)),
        ("2024-03-05", "%F", datetime(2024, 3, 5)),
        ("06:07:08", "%T", datetime(1970, 1, 1, 6, 7, 8)),
        ("06:07:08", "%X", datetime(1970, 1, 1, 6, 7, 8)),
        ("06:07", "%R", datetime(1970, 1, 1, 6, 7)),
        ("2024 Mar 05", "%Y %b %d", datetime(2024, 3, 5)),
        ("2024 Mar 05", "%Y %h %d", datetime(2024, 3, 5)),
        ("2024 March 05", "%Y %B %d", datetime(2024, 3, 5)),
        ("2024-3-5", "%Y-%q-%g", datetime(2024, 3, 5)),
        ("03:04:05 pm", "%r", datetime(1970, 1, 1, 15, 4, 5)),
        ("2024-03-05 06:07:08.123", "%Y-%m-%d %H:%M:%S.%L",
         datetime(2024, 3, 5, 6, 7, 8, 123000)),
        ("2024-03-05 06:07:08.123456", "%Y-%m-%d %H:%M:%S.%f",
         datetime(2024, 3, 5, 6, 7, 8, 123456)),
        # %s: 9-digit ns fraction, parsed with documented ns->us loss
        ("2024-03-05 06:07:08.123456789", "%Y-%m-%d %H:%M:%S.%s",
         datetime(2024, 3, 5, 6, 7, 8, 123456)),
        ("Tue Mar 05 06:07:08 2024", "%c", datetime(2024, 3, 5, 6, 7, 8)),
    ]
    df = spark.createDataFrame(
        [(s, layout) for s, layout, _ in cases], "s string, layout string"
    )
    rows = df.collect()
    for (s, layout, want), _ in zip(cases, rows):
        got = (
            spark.range(1)
            .select(strptime_parse(F.lit(s), layout).alias("t"))
            .collect()[0]["t"]
        )
        assert got == want, f"{layout}: {s} -> {got}, want {want}"


def test_offset_directives_parse(spark):
    # Go layouts: %z Z0700, %i -07, %j -07:00, %w -070000, %k -07:00:00
    cases = [
        ("2024-03-05 06:00:00 +0200", "%Y-%m-%d %H:%M:%S %z", 4),
        ("2024-03-05 06:00:00 +02", "%Y-%m-%d %H:%M:%S %i", 4),
        ("2024-03-05 06:00:00 +02:00", "%Y-%m-%d %H:%M:%S %j", 4),
        ("2024-03-05 06:00:00 +020000", "%Y-%m-%d %H:%M:%S %w", 4),
        ("2024-03-05 06:00:00 +02:00:00", "%Y-%m-%d %H:%M:%S %k", 4),
    ]
    for s, layout, want_utc_hour in cases:
        got = (
            spark.range(1)
            .select(strptime_parse(F.lit(s), layout).alias("t"))
            .collect()[0]["t"]
        )
        assert got.hour == want_utc_hour, f"{layout}: {s} -> {got}"


# ---------------------------------------------------------------------------
# exponential histogram
# ---------------------------------------------------------------------------

def test_exponential_histogram_buckets(spark):
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        exponential_histogram,
    )

    df = spark.createDataFrame(
        [("a", 0.5), ("a", 1.0), ("a", 1.5), ("a", 2.0), ("a", 3.0),
         ("a", 4.0), ("a", -1.0), ("a", 0.0)],
        "g string, v double",
    )
    got = {
        r["bucket_idx"]: r["bucket_count"]
        for r in exponential_histogram(df, "v", ["g"], scale=0).collect()
    }
    # (2^i, 2^(i+1)] buckets (upper-inclusive): 0.5 -> -2, 1.0 -> -1,
    # 1.5/2.0 -> 0, 3.0/4.0 -> 1; non-positive dropped
    assert got == {-2: 1, -1: 1, 0: 2, 1: 2}


# ---------------------------------------------------------------------------
# alertsgen completion
# ---------------------------------------------------------------------------

def test_alert_absent_and_select(spark):
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        alert_absent,
        alert_select,
    )

    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 0, 1), "svc-a"),
            (datetime(2024, 1, 1, 0, 0, 2), "svc-b"),
            (datetime(2024, 1, 1, 0, 0, 11), "svc-a"),
            # svc-b absent in window 2
        ],
        "ts timestamp, service string",
    )
    groups = df.select("service").distinct()
    absent = alert_absent(df, ["service"], groups, window="10 seconds").collect()
    assert len(absent) == 1 and absent[0]["service"] == "svc-b"

    sel = alert_select(df, {"service": "^svc-a$"})
    assert sel.count() == 2


def test_storm_limit_and_fingerprint(spark):
    from opentelemetry_collector_contrib_spark.operators.aggregate import (
        alert_fingerprint,
        storm_limit,
    )

    rows = [(datetime(2024, 1, 1, 0, 0, s), f"r{s % 5}") for s in range(10)]
    df = spark.createDataFrame(rows, "window_start timestamp, rule string")
    capped = storm_limit(df, 3, ts_col="window_start", order_cols=["rule"])
    assert capped.count() == 3  # all in the same minute
    fp = df.select(alert_fingerprint(df, "r", ["rule"]).alias("f")).collect()
    assert all(len(r["f"]) == 32 for r in fp)
    # identical labels -> identical fingerprint
    assert fp[0]["f"] == fp[5]["f"]


# ---------------------------------------------------------------------------
# tail-sampling policies
# ---------------------------------------------------------------------------

def test_tail_policy_composites(spark):
    from opentelemetry_collector_contrib_spark.operators.filter import (
        policy_and,
        policy_numeric_attribute,
        policy_string_attribute,
        tail_sampler,
    )

    df = spark.createDataFrame(
        [
            ("t1", 17, "error", 50.0),
            ("t1", 9, "ok", 10.0),
            ("t2", 9, "ok", 500.0),
            ("t3", 17, "error", 500.0),
        ],
        "trace_id string, severity int, status string, latency double",
    )
    # status_code policy: any record of the trace at/above ERROR
    keep = policy_and(
        F.max("severity") >= 17,
        policy_numeric_attribute("latency", 100.0, 1e9),
    )
    got = sorted(
        r["trace_id"] for r in tail_sampler(df, "trace_id", keep).select("trace_id").distinct().collect()
    )
    assert got == ["t3"]
    keep2 = policy_string_attribute("status", ["error"])
    got2 = sorted(
        r["trace_id"] for r in tail_sampler(df, "trace_id", keep2).select("trace_id").distinct().collect()
    )
    assert got2 == ["t1", "t3"]


def test_rate_limited_sampler(spark):
    from opentelemetry_collector_contrib_spark.operators.filter import (
        rate_limited_sampler,
    )

    rows = []
    for g in range(5):
        rows.append((f"t{g}", datetime(2024, 1, 1, 0, 0, 0, 1000 * g)))
    df = spark.createDataFrame(rows, "trace_id string, ts timestamp")
    kept = rate_limited_sampler(df, "trace_id", per_second=2)
    got = sorted(r["trace_id"] for r in kept.collect())
    assert got == ["t0", "t1"]  # deterministic first-2 by (t0, id)


# ---------------------------------------------------------------------------
# isolation forest
# ---------------------------------------------------------------------------

def test_isoforest_deterministic_and_bounded(spark):
    from opentelemetry_collector_contrib_spark.operators.ml import (
        build_forest,
        forest_case_sql,
        score_rows,
        score_with_forest,
    )

    forest = build_forest([(0.0, 10.0), (0.0, 100.0)], num_trees=4, max_depth=3)
    forest2 = build_forest([(0.0, 10.0), (0.0, 100.0)], num_trees=4, max_depth=3)
    # deterministic build (seeded hashes, no RNG)
    assert [
        (n.feature, n.split) for n in forest
    ] == [(n.feature, n.split) for n in forest2]

    scores = score_rows(forest, [[1.0, 5.0], [9.9, 99.0]])
    assert all(0.0 <= s <= 1.0 for s in scores)

    df = spark.createDataFrame([(1.0, 5.0), (9.9, 99.0)], "a double, b double")
    got = score_with_forest(df, forest, ["a", "b"]).collect()
    assert [round(r["anomaly_score"], 6) for r in got] == scores

    sql = forest_case_sql(forest, ["a", "b"])
    import duckdb

    oracle = duckdb.sql(
        f"SELECT {sql} AS s FROM (VALUES (1.0, 5.0), (9.9, 99.0)) t(a, b)"
    ).fetchall()
    assert [r[0] for r in oracle] == scores


# ---------------------------------------------------------------------------
# multi-table LSH recall >= single table
# ---------------------------------------------------------------------------

def test_lsh_multi_table_recall(spark):
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        lsh_bucket_topk,
        lsh_bucket_topk_multi,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single = lsh_bucket_topk(emb, dim=64, num_planes=6, k=1).count()
    multi = lsh_bucket_topk_multi(emb, dim=64, num_planes=6, num_tables=2, k=1).count()
    # OR-amplification can only widen the candidate set
    assert multi >= single


# ---------------------------------------------------------------------------
# brute-force fence
# ---------------------------------------------------------------------------

def test_brute_force_guard(spark):
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="lsh_bucket_topk"):
        brute_force_topk(emb, emb, k=1, max_broadcast_rows=10)


def test_pq_adc_flat_scan_guard(spark):
    from opentelemetry_collector_contrib_spark.operators.similarity import (
        pq_adc_top1,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="ivfadc_topk"):
        pq_adc_top1(emb, max_scan_rows=10)
