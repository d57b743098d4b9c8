"""Schema processor: semconv version translation of attribute maps.

Mirrors ``processor/schemaprocessor`` (processor.go, internal/
translation/revision_v1.go:33-110, internal/migrate/attributes.go):
a signal published at schema version X is translated to target version
Y by applying each intermediate version's ``rename_attributes`` map in
order (upgrade), or the inverted maps in reverse order (downgrade).

The reference fetches schema files from the signal's schema URL at
runtime; a Spark job plans statically, so the translation table is a
plain dict keyed by version.  ``SEMCONV_RENAMES`` ships a built-in
subset of the published opentelemetry.io schema entries (public
schema files at https://opentelemetry.io/schemas/<version>); vendors
pass their own table the same shape, which is the processor's real
contract.

Execution: the whole walk composes into ONE static key-rename dict at
plan time, applied with a single ``transform_keys`` over the map
column — no UDF, no shuffle, constant-folded lookup map; at 100 TB
this is a free map-side expression.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Published rename_attributes entries (schema family
# https://opentelemetry.io/schemas). Sections follow the schema-file
# format: "all" applies to every signal, "resources"/"logs" etc. to
# their section (revision_v1.go:49-72).  Subset: the log/resource-
# relevant renames; span-only entries ride in "all" here because the
# flat log model carries one attribute map.
SEMCONV_RENAMES: dict[str, dict[str, dict[str, str]]] = {
    "1.8.0": {
        "all": {
            "db.cassandra.keyspace": "db.name",
            "db.hbase.namespace": "db.name",
        }
    },
    "1.13.0": {
        "all": {
            "net.peer.ip": "net.sock.peer.addr",
            "net.host.ip": "net.sock.host.addr",
        }
    },
    "1.15.0": {"all": {"http.retry_count": "http.resend_count"}},
    "1.19.0": {
        "all": {"faas.execution": "faas.invocation_id"},
        "resources": {"browser.user_agent": "user_agent.original"},
        "logs": {"http.user_agent": "user_agent.original"},
    },
}


def _semver(v: str) -> tuple[int, ...]:
    return tuple(int(p) for p in v.split("."))


def compose_renames(
    from_version: str,
    to_version: str,
    schema: dict[str, dict[str, dict[str, str]]] | None = None,
    section: str = "logs",
) -> dict[str, str]:
    """Compose every rename map between the two versions into one
    old-key -> new-key dict (translation.go ApplyAllResourceChanges
    walks revisions; composition is associative for rename chains).
    Downgrades invert each map and walk in reverse."""
    schema = SEMCONV_RENAMES if schema is None else schema
    f, t = _semver(from_version), _semver(to_version)
    upgrade = f <= t
    lo, hi = (f, t) if upgrade else (t, f)
    steps = sorted(
        (v for v in schema if lo < _semver(v) <= hi), key=_semver,
        reverse=not upgrade,
    )
    final: dict[str, str] = {}
    for v in steps:
        step: dict[str, str] = {}
        for sect in ("all", section):
            step.update(schema[v].get(sect, {}))
        if not upgrade:
            step = {new: old for old, new in step.items()}
        # chain: keys already renamed flow through this step's map
        for k in final:
            final[k] = step.get(final[k], final[k])
        for k, v2 in step.items():
            final.setdefault(k, v2)
    return {k: v for k, v in final.items() if k != v}


def translate_keys(col: Column, renames: dict[str, str]) -> Column:
    """Apply a composed rename dict to a MAP<STRING,STRING> column in
    one JVM-side expression (migrate/attributes.go does a per-record
    Range loop; Catalyst constant-folds the lookup map here).

    Collision-safe: when a record carries BOTH the old and the new key
    (e.g. ``net.peer.ip`` and ``net.sock.peer.addr``, or two sources
    that map to the same target like the ``db.*.keyspace`` pair), a
    bare ``transform_keys`` yields a duplicate key and Spark's default
    ``mapKeyDedupPolicy=EXCEPTION`` fails the job at runtime — where
    the reference's sequential per-record loop just overwrites.  Here
    the renamed entries are rebuilt via ``map_from_entries`` with
    explicit last-wins dedup (deterministic: the entry latest in map
    insertion order keeps the key)."""
    if not renames:
        return col
    pairs = []
    for k, v in renames.items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*pairs)

    # Collision candidates are STATIC (the rename dict): a duplicate
    # key can only arise when a record carries a source key together
    # with its target, or two sources of the same target.  Enumerate
    # those pairs as cheap map_contains_key checks and keep the
    # collision-free fast path (the original single transform_keys —
    # one codegen'd expression, no entry-array rebuild) for the ~100%
    # of records with no collision; only colliding rows pay the
    # rebuild-with-dedup branch.
    checks = []
    by_target: dict[str, list[str]] = {}
    for s, d in renames.items():
        checks.append(F.map_contains_key(col, s) & F.map_contains_key(col, d))
        by_target.setdefault(d, []).append(s)
    for srcs in by_target.values():
        for i in range(len(srcs)):
            for j in range(i + 1, len(srcs)):
                checks.append(
                    F.map_contains_key(col, srcs[i])
                    & F.map_contains_key(col, srcs[j])
                )
    collision = checks[0]
    for c in checks[1:]:
        collision = collision | c

    fast = F.transform_keys(
        col, lambda k, _v: F.coalesce(F.element_at(lookup, k), k)
    )

    renamed = F.transform(
        F.map_entries(col),
        lambda e: F.struct(
            F.coalesce(F.element_at(lookup, e["key"]), e["key"]).alias("key"),
            e["value"].alias("value"),
            F.element_at(lookup, e["key"]).isNotNull().alias("ren"),
        ),
    )
    # Collision priority mirrors migrate/attributes.go Do: a value that
    # was RENAMED onto the key beats a pass-through entry that already
    # held the key, regardless of the record's entry order.  Ordering
    # pass-through entries first and renamed entries last, then taking
    # last-wins (= first occurrence in the REVERSED list), encodes that
    # priority; among several renamed sources of one target the latest
    # in map insertion order wins (deterministic).
    ordered = F.concat(
        F.filter(renamed, lambda e: ~e["ren"]),
        F.filter(renamed, lambda e: e["ren"]),
    )
    rev = F.reverse(ordered)
    keys = F.transform(rev, lambda e: e["key"])
    deduped = F.transform(
        F.filter(
            rev, lambda e, i: F.array_position(keys, e["key"]) == i + F.lit(1)
        ),
        lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
    )
    return F.when(collision, F.map_from_entries(deduped)).otherwise(fast)


def schema_translate(
    df: DataFrame,
    from_version: str,
    to_version: str,
    attr_cols: tuple[str, ...] = ("attributes",),
    resource_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Translate attribute/resource map columns between semconv
    versions (processor.go processLogs: resource attrs use the
    resources section, log attrs the logs section)."""
    for c in attr_cols:
        df = df.withColumn(
            c,
            translate_keys(
                F.col(c),
                compose_renames(from_version, to_version),
            ),
        )
    for c in resource_cols:
        df = df.withColumn(
            c,
            translate_keys(
                F.col(c),
                compose_renames(from_version, to_version,
                                section="resources"),
            ),
        )
    return df
