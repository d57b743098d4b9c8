"""Routing: first-match-wins fan-out (routingconnector + stanza router).

Reference semantics (``connector/routingconnector/logs.go:62-107``):
an *ordered* route table; each route has a condition; matching data is
MOVED out (first match wins), leftovers go to ``default_pipelines``;
with ``error_mode=ignore`` a route whose condition errors is treated
as non-matching (the payload flows on to later routes / default).

Spark re-expression: one ``when()`` chain — ``when`` evaluates
conditions in order per row and stops at the first hit, which is
exactly first-match-wins MOVE semantics, computed in a single codegen
pass with zero data movement. Fan-out to sinks is then either
``partitionBy(route)`` on write (one job) or per-sink filters (Catalyst
pushes ``route = 'x'`` into the scan when the routed frame is
checkpointed/cached).

error_mode=ignore: conditions are wrapped so NULL (the Spark analog of
an errored predicate, e.g. missing attribute) is FALSE -> the row
falls through, matching config.go:26-34.

Skew: hot conversations make ``repartition(conv_id)`` skewed at
10^12-turn scale. ``salted_repartition`` spreads each key over
``salt`` subpartitions — (key, salt) hash layout — which AQE cannot do
for writes on its own. No job calls it yet: the flagship sink write
takes an AQE rebalance, and the conv_id-keyed stages run unsalted.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Route:
    name: str
    condition: Column


def route_column(
    routes: list[Route],
    default: str = "default",
    error_mode: str = "ignore",
) -> Column:
    """Ordered route table -> a single STRING route column."""
    chain: Column | None = None
    for r in routes:
        cond = r.condition
        if error_mode == "ignore":
            # NULL condition (errored / missing attr) must not match
            cond = F.coalesce(cond.cast("boolean"), F.lit(False))
        chain = F.when(cond, r.name) if chain is None else chain.when(cond, r.name)
    if chain is None:
        return F.lit(default)
    return chain.otherwise(default)


def apply_routes(
    df: DataFrame,
    routes: list[Route],
    default: str = "default",
    route_col: str = "route",
    error_mode: str = "ignore",
) -> DataFrame:
    return df.withColumn(route_col, route_column(routes, default, error_mode))


def split_by_route(
    df: DataFrame, route_names: list[str], route_col: str = "route"
) -> dict[str, DataFrame]:
    """Per-sink DataFrames. Each row lands in exactly one sink (the
    testbed sent==received invariant is sum(per-sink counts) == input)."""
    return {name: df.filter(F.col(route_col) == name) for name in route_names}


def salted_repartition(
    df: DataFrame,
    key: str,
    salt_buckets: int = 16,
    num_partitions: int | None = None,
    salt_col: str = "_salt",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Repartition by (key, salt) to defeat hot-key skew.

    Salt is derived deterministically from ``salt_cols`` — never
    rand() — so re-runs produce identical layouts (lineage/resume
    requirement). Default salt columns are ``(conv_id, turn_idx)``
    when present (the transcript key+order pair); pass ``salt_cols``
    explicitly otherwise. Hashing only the key+order pair keeps the
    salt O(16 bytes) per row — hashing wide payload columns (e.g. the
    full ``text``) would re-scan every byte just to pick a bucket.
    """
    if salt_cols is None:
        default = [c for c in ("conv_id", "turn_idx") if c in df.columns and c != key]
        salt_cols = default or [c for c in df.columns if c != key][:2]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    out = df.withColumn(salt_col, salt)
    if num_partitions:
        out = out.repartition(num_partitions, F.col(key), F.col(salt_col))
    else:
        out = out.repartition(F.col(key), F.col(salt_col))
    return out.drop(salt_col)
