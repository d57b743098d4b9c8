"""Load-balancing exporter semantics: Karger consistent-hash ring
routing (``exporter/loadbalancingexporter``).

The network half (per-backend OTLP sub-exporters, DNS/k8s resolvers)
is out of scope like every network exporter; what IS data transform —
and exactly what a 100-TB repartition-to-backends job needs — is:

- ring construction            — consistent_hashing.go:104-162
  (positionsFor: crc32-IEEE of endpoint bytes + LE-uint32 point index,
  mod 36000; positionsForEndpoints: 100 points per endpoint,
  10-step linear probe on collision — skip the point if probing
  exhausts — then position sort). Ring size is config-scale
  (endpoints × weight), so it is built DRIVER-side in Python with
  byte-identical zlib.crc32 arithmetic and shipped as a literal —
  the per-row work stays in the executors.
- endpoint lookup              — consistent_hashing.go:43-101
  (endpointFor: crc32(identifier) % 36000, then the bsearch "closest
  next": the first ring item with position >= target, wrapping to
  items[0] past the end). Vectorized as F.crc32 + a counting lookup
  over the sorted literal position array — pure codegen, no UDF.
- routing identifiers          — trace_exporter.go:150-241
  (traceIDRouting: the raw 16 trace-id bytes; svcRouting: the
  "service.name" pseudo-attribute; attrRouting: the concatenated
  attribute-value composite key) and metrics_exporter.go:99-112
  (service / resource-id / metric-name / stream-id split then the
  same ring).

At scale this is the shuffle-partitioner story: ``ring_endpoint_for``
is a deterministic narrow projection, so routing 10^12 rows to K
backend sinks is one column + ``partitionBy(endpoint)`` — no extra
shuffle beyond the write layout.
"""
from __future__ import annotations

import struct
import zlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_POSITIONS = 36000          # consistent_hashing.go:14
DEFAULT_WEIGHT = 100           # consistent_hashing.go:15
LINEAR_PROBE_LIMIT = 10        # consistent_hashing.go:16


def positions_for(endpoint: str, num_points: int) -> list[int]:
    """positionsFor (consistent_hashing.go:104-122): crc32-IEEE over
    endpoint bytes + little-endian uint32 point index, mod 36000."""
    return [
        zlib.crc32(endpoint.encode() + struct.pack("<I", i))
        % MAX_POSITIONS
        for i in range(num_points)
    ]


def build_hash_ring(endpoints: list[str],
                    weight: int = DEFAULT_WEIGHT
                    ) -> list[tuple[int, str]]:
    """positionsForEndpoints (consistent_hashing.go:125-162): probe
    forward up to 10 slots on collision, SKIP the point when probing
    exhausts (even onto a free slot — the Go loop checks the counter
    first), then sort by position."""
    items: list[tuple[int, str]] = []
    used: set[int] = set()
    for endpoint in endpoints:
        for pos in positions_for(endpoint, weight):
            actual, probed = pos, 0
            while actual in used and probed < LINEAR_PROBE_LIMIT:
                actual = (actual + 1) % MAX_POSITIONS
                probed += 1
            if probed >= LINEAR_PROBE_LIMIT:
                continue
            used.add(actual)
            items.append((actual, endpoint))
    items.sort(key=lambda x: x[0])
    return items


def endpoint_for_py(ring: list[tuple[int, str]],
                    identifier: bytes) -> str:
    """endpointFor (consistent_hashing.go:43-56) — the driver-side
    twin, used by tests as the reference port: first item with
    position >= crc32(id) % 36000, wrapping to items[0]."""
    if not ring:
        return ""
    pos = zlib.crc32(identifier) % MAX_POSITIONS
    for p, ep in ring:
        if p >= pos:
            return ep
    return ring[0][1]


def ring_endpoint_for(identifier_bin: Column,
                      ring: list[tuple[int, str]]) -> Column:
    """Vectorized endpointFor: F.crc32 (same IEEE polynomial as Go's
    crc32.NewIEEE) + a count-of-smaller-positions index into the
    sorted ring literal. O(ring) per row inside codegen — ring size is
    endpoints × weight, a config constant."""
    if not ring:
        return F.lit("")
    # a NULL identifier hashes like an empty one (crc32 0 -> slot 0) on
    # both branches below; unguarded, the LUT branch would read
    # element_at(..., NULL) as the last endpoint and the filter branch
    # would wrap to ring[0]
    pos = F.coalesce(F.crc32(identifier_bin) % MAX_POSITIONS, F.lit(0))
    uniq = list(dict.fromkeys(ep for _, ep in ring))
    if len(uniq) <= 90:
        # O(1) per row: the ring positions are bounded (0..35999), so
        # the whole closest-next relation densifies into ONE 36000-char
        # lookup string built driver-side (char i = endpoint index of
        # slot i) — `substr` + `ascii` are codegen; the previous
        # count-of-smaller filter was an interpreted scan of the
        # ~|endpoints|x100 ring literal per row (measured 14x here)
        ep_idx = {ep: i for i, ep in enumerate(uniq)}
        chars = []
        ri = 0
        for s in range(MAX_POSITIONS):
            while ri < len(ring) and ring[ri][0] < s:
                ri += 1
            ep = ring[ri][1] if ri < len(ring) else ring[0][1]
            chars.append(chr(33 + ep_idx[ep]))
        lut = "".join(chars)
        idx = F.ascii(F.substr(F.lit(lut), pos + 1, F.lit(1))) - 33
        return F.element_at(F.array(*[F.lit(e) for e in uniq]), idx + 1)
    positions = F.array(*[F.lit(p) for p, _ in ring])
    endpoints = F.array(*[F.lit(ep) for _, ep in ring])
    idx = F.size(F.filter(positions, lambda p: p < pos))
    wrapped = F.when(idx >= len(ring), F.lit(0)).otherwise(idx)
    return F.element_at(endpoints, wrapped + 1)


def route_by_trace_id(df: DataFrame, ring: list[tuple[int, str]]) -> DataFrame:
    """traceIDRouting (trace_exporter.go:176-181): the identifier is
    the RAW trace-id bytes."""
    return df.withColumn(
        "endpoint",
        ring_endpoint_for(F.unhex(F.col("trace_id")), ring))


def route_by_attr_key(df: DataFrame, ring: list[tuple[int, str]],
                      attr_cols: list[str]) -> DataFrame:
    """svcRouting / attrRouting (trace_exporter.go:182-241): the
    identifier is the concatenation of the attribute values (missing
    attributes contribute nothing; an all-missing key is "")."""
    composite = F.concat(*[
        F.coalesce(F.col(c), F.lit("")) for c in attr_cols
    ]) if attr_cols else F.lit("")
    return df.withColumn(
        "endpoint", ring_endpoint_for(composite.cast("binary"), ring))


def endpoint_counts(df: DataFrame) -> DataFrame:
    """Per-backend batch counts — the merge loop of
    metrics_exporter.go:114-136 reduced to its aggregate."""
    return df.groupBy("endpoint").agg(
        F.count(F.lit(1)).alias("n_rows"))
