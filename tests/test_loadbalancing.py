"""Consistent-hash ring routing — goldens pinned from the reference's
consistent_hashing_test.go, plus Spark-vs-Python-port equivalence."""
from __future__ import annotations

import pyspark.sql.functions as F

from opentelemetry_collector_contrib_spark.operators.loadbalancing import (
    DEFAULT_WEIGHT,
    build_hash_ring,
    endpoint_counts,
    endpoint_for_py,
    positions_for,
    ring_endpoint_for,
    route_by_attr_key,
    route_by_trace_id,
)

RING2 = build_hash_ring(["endpoint-1", "endpoint-2"])


def test_ring_size_and_positions_len():
    # TestNewHashRing: 2 endpoints -> 2 * defaultWeight items
    assert len(RING2) == 2 * DEFAULT_WEIGHT
    # TestPositionsFor: numPoints positions
    assert len(positions_for("host1", 10)) == 10
    # sorted + unique
    ps = [p for p, _ in RING2]
    assert ps == sorted(ps) and len(set(ps)) == len(ps)


def test_endpoint_for_goldens():
    # consistent_hashing_test.go TestEndpointFor — exact expectations
    assert endpoint_for_py(RING2, bytes([1, 2, 0, 0])) == "endpoint-2"
    assert endpoint_for_py(RING2, bytes([128, 128, 0, 0])) == "endpoint-1"
    assert endpoint_for_py(RING2, b"ad-service-7") == "endpoint-2"
    assert endpoint_for_py(RING2, b"get-recommendations-1") == "endpoint-1"


def test_spark_matches_python_port(spark):
    ring = build_hash_ring([f"backend-{i}" for i in range(5)])
    ids = [f"svc-{i}" for i in range(200)]
    df = spark.createDataFrame([(s,) for s in ids], "key string")
    got = {r["key"]: r["ep"] for r in df.select(
        "key", ring_endpoint_for(F.col("key").cast("binary"), ring)
        .alias("ep")).collect()}
    for s in ids:
        assert got[s] == endpoint_for_py(ring, s.encode()), s


def test_trace_id_routing_and_counts(spark):
    ring = build_hash_ring(["a", "b", "c"])
    rows = [(f"{i:032x}",) for i in range(64)]
    df = spark.createDataFrame(rows, "trace_id string")
    out = route_by_trace_id(df, ring)
    got = {r["trace_id"]: r["endpoint"] for r in out.collect()}
    for tid in got:
        assert got[tid] == endpoint_for_py(ring, bytes.fromhex(tid))
    counts = {r["endpoint"]: r["n_rows"]
              for r in endpoint_counts(out).collect()}
    assert sum(counts.values()) == 64 and len(counts) >= 2


def test_attr_routing_composite_key(spark):
    # svcRouting == attrRouting on the service.name pseudo-attribute;
    # missing attrs contribute nothing (trace_exporter.go:198-238)
    ring = build_hash_ring(["x", "y"])
    df = spark.createDataFrame(
        [("svcA", "prod"), ("svcB", None)], "svc string, env string")
    out = route_by_attr_key(df, ring, ["svc", "env"]).collect()
    assert out[0]["endpoint"] == endpoint_for_py(ring, b"svcAprod")
    assert out[1]["endpoint"] == endpoint_for_py(ring, b"svcB")


def test_null_identifier_routes_alike_on_both_branches(spark):
    # <=90 endpoints take the lookup-string branch, >90 the ring-filter
    # branch; a NULL identifier must land where the empty one does on
    # each, which is ring[0] (crc32 of nothing is 0)
    df = spark.createDataFrame([(None,), ("",)], "key string")
    for n in (5, 91):
        ring = build_hash_ring([f"backend-{i}" for i in range(n)], weight=1)
        got = [r["ep"] for r in df.select(
            ring_endpoint_for(F.col("key").cast("binary"), ring).alias("ep")).collect()]
        assert got == [ring[0][1], endpoint_for_py(ring, b"")], n
