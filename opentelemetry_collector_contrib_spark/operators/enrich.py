"""Enrichment: broadcast lookup joins and range lookups.

Reference semantics:
- k8sattributes processor does per-record dimension lookups with
  **insert-if-absent** — an attribute already present on the record is
  not overwritten (``processor/k8sattributesprocessor/processor.go:209-214``),
  with chained secondary lookups (pod -> namespace -> node).
- geoip / dnslookup are the same shape against other dims.

Spark re-expression: ``join(broadcast(dim), key, "left")`` +
``coalesce(existing, dim.value)``. At 100 TB the fact side never
shuffles — the dim ships to every executor; chained lookups are
pre-joined dim-side (dims are tiny) so the fact table is touched once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    insert_if_absent: bool = True,
) -> DataFrame:
    """Left-broadcast-join ``dim`` onto ``fact``.

    ``insert_if_absent=True`` reproduces the k8sattributes rule: if the
    fact frame already has a column with the same name as a dim column
    and it is non-null/non-empty, keep the fact value
    (processor.go:209-214 only sets missing/empty attributes).
    """
    keys = [on] if isinstance(on, str) else list(on)
    dim_cols = [c for c in dim.columns if c not in keys]
    renamed = dim.withColumnsRenamed({c: f"__dim_{c}" for c in dim_cols})
    out = fact.join(F.broadcast(renamed), on=keys, how="left")
    fact_cols = set(fact.columns)
    values: dict[str, Column] = {}
    for c in dim_cols:
        dim_val = F.col(f"__dim_{c}")
        if c in fact_cols and insert_if_absent:
            existing = F.col(c)
            keep = existing.isNotNull() & (existing.cast("string") != "")
            values[c] = F.when(keep, existing).otherwise(dim_val)
        else:
            values[c] = dim_val
    # one projection for every field: the Spark driver analyses the
    # plan once, not once per field
    return out.withColumns(values).drop(*[f"__dim_{c}" for c in dim_cols])


def ip_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 -> int64 (geoip block-lookup key). Pure exprs;
    invalid addresses -> NULL."""
    parts = F.split(ip, r"\.")
    valid = ip.rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
    octet = lambda i: F.element_at(parts, i).try_cast("long")  # noqa: E731
    val = (
        octet(1) * 16777216 + octet(2) * 65536 + octet(3) * 256 + octet(4)
    )
    ok = valid
    for i in range(1, 5):
        ok = ok & (octet(i) <= 255)
    return F.when(ok, val)


def geoip_enrich(
    fact: DataFrame,
    blocks: DataFrame,
) -> DataFrame:
    """geoipprocessor analog: IP -> block range lookup. Converts the
    dotted quad to int64 and range-joins against broadcast CIDR
    blocks (pre-expanded to [lo, hi] int ranges offline)."""
    keyed = fact.withColumn("__ip_long", ip_to_long(F.col("client_ip")))
    return range_enrich(keyed, blocks, "__ip_long", "ip_lo", "ip_hi").drop("__ip_long")


def range_enrich(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str | Column,
    dim_lo: str,
    dim_hi: str,
    how: str = "left",
) -> DataFrame:
    """Range lookup (geoip CIDR-block style): fact.key BETWEEN dim.lo
    AND dim.hi, dim broadcast. For large dims, bucketize the key first
    and equi-join on bucket to keep the join from going nested-loop."""
    k = F.col(fact_key) if isinstance(fact_key, str) else fact_key
    cond = (k >= dim[dim_lo]) & (k <= dim[dim_hi])
    return fact.join(F.broadcast(dim), on=cond, how=how)
