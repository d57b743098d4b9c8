"""Routing: first-match-wins fan-out (routingconnector + stanza router).

Reference semantics (``connector/routingconnector/logs.go:62-107``):
an *ordered* route table; each route has a condition; matching data is
MOVED out (first match wins), leftovers go to ``default_pipelines``;
a route whose condition errors is treated as non-matching (the
payload flows on to later routes / default), as the reference does
under ``error_mode: ignore``.

Spark re-expression: one ``when()`` chain — ``when`` evaluates
conditions in order per row and stops at the first hit, which is
exactly first-match-wins MOVE semantics, computed in a single codegen
pass with zero data movement. Fan-out to sinks is then either
``partitionBy(route)`` on write (one job) or per-sink filters (Catalyst
pushes ``route = 'x'`` into the scan when the routed frame is
checkpointed/cached).

NULL is false: conditions are wrapped so NULL (the Spark analog of an
errored predicate, e.g. missing attribute) is FALSE -> the row falls
through, matching ``error_mode: ignore`` (config.go:26-34).
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
) -> Column:
    """Ordered route table -> a single STRING route column."""
    chain: Column | None = None
    for r in routes:
        # NULL condition (errored / missing attr) must not match
        cond = F.coalesce(r.condition.cast("boolean"), F.lit(False))
        chain = F.when(cond, r.name) if chain is None else chain.when(cond, r.name)
    if chain is None:
        return F.lit(default)
    return chain.otherwise(default)


def apply_routes(
    df: DataFrame,
    routes: list[Route],
    default: str = "default",
) -> DataFrame:
    return df.withColumn("route", route_column(routes, default))
