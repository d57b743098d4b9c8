"""Single-row transformers: stanza assign_keys + attributes processor
actions + OTTL editor statements.

Reference semantics:
- stanza assign_keys turns a list field into a map with configured keys
  (``pkg/stanza/operator/transformer/assignkeys``); the other stanza
  field editors are OTTL statements here.
- attributes processor applies an ordered action list INSERT / UPDATE /
  UPSERT / DELETE / HASH / EXTRACT / CONVERT over the attribute map
  (``internal/coreinternal/attraction/attraction.go:22-88,111-140``);
  UPDATE is ``map_merge(..., "update")`` and EXTRACT is OTTL
  ``ExtractPatterns``.
- OTTL editors (set, delete_key, keep_keys, replace_pattern, limit,
  truncate_all, merge_maps…) mutate the record under an optional
  ``where`` clause (``pkg/ottl/ottlfuncs``).

Spark re-expression: every edit is a conditional column expression —
``when(cond, edited).otherwise(original)`` — so a statement list
compiles to one projection. Attribute maps are MAP<STRING,STRING>
columns; map edits use map_concat/map_filter (JVM, codegen'd).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# column-level editors (stanza assign_keys)
# ---------------------------------------------------------------------------


def assign_keys(
    df: DataFrame,
    field: str,
    keys: list[str],
    on_error: str = "send",
) -> DataFrame:
    """stanza assign_keys transformer
    (``pkg/stanza/operator/transformer/assignkeys/transformer.go:24-62``):
    a list-valued field becomes a map, each value assigned the
    configured key at the same position.  The reference errors when the
    list length differs from ``len(keys)``; per stanza on_error
    semantics 'send' passes the entry through unchanged (the original
    list is kept, the map stays NULL) and 'drop' removes it.

    The field may be a native ARRAY column or a compact-JSON array cell
    (the flat model's encoding for nested slices); both decode JVM-side.
    Output: a MAP<STRING,STRING> column — pure expressions, no
    shuffle.  With on_error='drop' the map replaces ``field`` (every
    surviving row parsed); with 'send' it is ``{field}_map`` so
    mismatched rows RETAIN the original list column
    (transformer.go returns an error and the entry keeps its field —
    overwriting the source with a NULL map would lose data).
    """
    if not keys:
        raise ValueError("assign_keys missing required field keys")
    out_col = field if on_error == "drop" else f"{field}_map"
    src = F.col(field)
    dtype = dict(df.dtypes)[field]
    arr = src if dtype.startswith("array") else F.from_json(src, "array<string>")
    ok = arr.isNotNull() & (F.size(arr) == len(keys))
    assigned = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.transform(arr, lambda v: v.cast("string")),
    )
    if on_error == "drop":
        return df.filter(ok).withColumn(out_col, assigned)
    # 'send': mismatched rows pass through with a NULL map (the typed
    # out column can't hold the original list, which stays in ``field``)
    return df.withColumn(out_col, F.when(ok, assigned))


# ---------------------------------------------------------------------------
# attribute-map editors (MAP<STRING,STRING> column)
# ---------------------------------------------------------------------------


def map_set(attrs: Column, key, value: Column) -> Column:
    """OTTL set(attributes[key], v) / attraction UPSERT. ``key`` may
    be a literal or a Column (dynamic index, grammar.go Key expr)."""
    kc = key if isinstance(key, Column) else F.lit(key)
    return F.map_concat(
        F.map_filter(attrs, lambda k, _: k != kc),
        F.map_from_arrays(F.array(kc), F.array(value.cast("string"))),
    )


def map_insert(attrs: Column, key: str, value: Column) -> Column:
    """attraction INSERT: only when key absent (attraction.go INSERT)."""
    return F.when(F.element_at(attrs, key).isNotNull(), attrs).otherwise(
        map_set(attrs, key, value)
    )


def map_delete_key(attrs: Column, key: str) -> Column:
    """OTTL delete_key / attraction DELETE."""
    return F.map_filter(attrs, lambda k, _: k != F.lit(key))


def map_delete_matching_keys(attrs: Column, pattern: str) -> Column:
    """OTTL delete_matching_keys(attributes, regex)."""
    return F.map_filter(attrs, lambda k, _: ~k.rlike(pattern))


def map_keep_matching_keys(attrs: Column, pattern: str) -> Column:
    return F.map_filter(attrs, lambda k, _: k.rlike(pattern))


def map_keep_keys(attrs: Column, keys: list[str]) -> Column:
    """OTTL keep_keys(attributes, [...])."""
    arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(attrs, lambda k, _: F.array_contains(arr, k))


def map_hash_key(attrs: Column, key: str, algo: str = "sha256") -> Column:
    """attraction HASH action (sha256/sha1/md5 over the value)."""
    v = F.element_at(attrs, key)
    hashed = {
        "sha256": F.sha2(v, 256),
        "sha1": F.sha1(v),
        "md5": F.md5(v),
    }[algo]
    return F.when(v.isNull(), attrs).otherwise(map_set(attrs, key, hashed))


def map_merge(a: Column, b: Column, strategy: str = "upsert") -> Column:
    """OTTL merge_maps(target, source, strategy) — upsert|insert|update
    (func_merge_maps.go)."""
    if strategy == "upsert":
        return F.map_concat(F.map_filter(a, lambda k, _: ~F.array_contains(F.map_keys(b), k)), b)
    if strategy == "insert":
        return F.map_concat(a, F.map_filter(b, lambda k, _: ~F.array_contains(F.map_keys(a), k)))
    if strategy == "update":
        keep_new = F.map_filter(b, lambda k, _: F.array_contains(F.map_keys(a), k))
        return F.map_concat(F.map_filter(a, lambda k, _: ~F.array_contains(F.map_keys(b), k)), keep_new)
    raise ValueError(strategy)


def map_limit(attrs: Column, n: int, priority_keys: list[str] | None = None) -> Column:
    """OTTL limit(attributes, n, [priority...]): cap map size keeping
    priority keys first then smallest keys (deterministic order — the
    reference keeps iteration order; we pin sorted order)."""
    pri = F.array(*[F.lit(k) for k in (priority_keys or [])])
    entries = F.map_entries(attrs)
    ranked = F.transform(
        entries,
        lambda e: F.struct(
            (~F.array_contains(pri, e["key"])).cast("int").alias("p"),
            e["key"].alias("key"),
            e["value"].alias("value"),
        ),
    )
    kept = F.slice(F.array_sort(ranked), 1, n)
    return F.map_from_arrays(
        F.transform(kept, lambda e: e["key"]), F.transform(kept, lambda e: e["value"])
    )


def map_truncate_all(attrs: Column, limit: int) -> Column:
    """OTTL truncate_all(attributes, n): cap every value length."""
    return F.transform_values(attrs, lambda _, v: F.substring(v, 1, limit))


def map_replace_all_patterns(attrs: Column, pattern: str, replacement: str, mode: str = "value") -> Column:
    """OTTL replace_all_patterns(attributes, "value"|"key", pat, rep)."""
    if mode == "value":
        return F.transform_values(attrs, lambda _, v: F.regexp_replace(v, pattern, replacement))
    entries = F.map_entries(attrs)
    return F.map_from_arrays(
        F.transform(entries, lambda e: F.regexp_replace(e["key"], pattern, replacement)),
        F.transform(entries, lambda e: e["value"]),
    )


# ---------------------------------------------------------------------------
# statement runner: ordered edits under `where` conditions
# ---------------------------------------------------------------------------


def apply_statement(
    df: DataFrame, target: str, edit: Column, where: Column | None = None
) -> DataFrame:
    """One OTTL statement: ``set/edit(target) where cond``.

    when(cond, edited).otherwise(orig) — rows failing the condition
    keep the original value; a NULL condition (errored sub-expression,
    error_mode=ignore) also keeps the original.
    """
    if where is None:
        return df.withColumn(target, edit)
    cond = F.coalesce(where.cast("boolean"), F.lit(False))
    orig = F.col(target) if target in df.columns else F.lit(None)
    return df.withColumn(target, F.when(cond, edit).otherwise(orig))
