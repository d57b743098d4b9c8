"""span processor: rename spans from attributes / extract attributes
from the span name.

Mirrors ``processor/spanprocessor`` (README + config.go):

- ``name.from_attributes`` + ``separator``: the new span name is the
  attribute values joined in config order; if ANY listed attribute is
  missing the span keeps its old name (span.go renameSpan rule).
- ``name.to_attributes.rules``: each regex rule with named groups is
  matched against the span name; every named submatch becomes an
  attribute and the matched portion of the name is replaced by
  ``{group_name}``.  ``break_after_match`` stops at the first matching
  rule.

Rules compile to pure Column expressions (regexp_extract /
regexp_replace) — no UDF; the name-template rewrite requires the
rule's non-group text to be literal (true of the reference's own
examples; a non-literal tail raises at compile time rather than
producing a wrong name).
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NAMED_GROUP_RE = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


def _group_indices(pattern: str) -> list[tuple[str, int]]:
    """(name, java_group_number) for every named group, numbering ALL
    capturing groups: an unnamed parenthesized group nested inside or
    between named groups (e.g. ``(?P<a>x|(y))(?P<b>\\d+)``) shifts
    Java's numbering, so counting named groups alone would silently
    extract the wrong value into later attributes."""
    out: list[tuple[str, int]] = []
    idx = 0
    i = 0
    in_class = False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            i += 1
            continue
        if ch == "[":
            in_class = True
            i += 1
            continue
        if ch == "(":
            m = _NAMED_GROUP_RE.match(pattern, i)
            if m:
                idx += 1
                out.append((m.group(1), idx))
                i = m.end()
                continue
            if i + 1 < len(pattern) and pattern[i + 1] == "?":
                i += 1  # (?: (?= (?! (?<= (?<! (?i) … — non-capturing
                continue
            idx += 1  # bare capturing group
            i += 1
            continue
        i += 1
    return out


def span_name_from_attributes(
    df: DataFrame,
    from_attributes: list[str],
    separator: str = "",
    name_col: str = "name",
) -> DataFrame:
    attrs = F.col("attributes")
    vals = [F.element_at(attrs, F.lit(k)) for k in from_attributes]
    all_present = vals[0].isNotNull()
    for v in vals[1:]:
        all_present = all_present & v.isNotNull()
    new_name = F.concat_ws(separator, *vals)
    return df.withColumn(
        name_col, F.when(all_present, new_name).otherwise(F.col(name_col))
    )


def _template_from_rule(pattern: str) -> str:
    """Rewrite a rule's pattern into the renamed-span template:
    ``(?P<g>…)`` -> ``{g}``, escaped literals unescaped."""
    out, depth, i = [], 0, 0
    while i < len(pattern):
        m = _NAMED_GROUP_RE.match(pattern, i)
        if m and depth == 0:
            out.append("{" + m.group(1) + "}")
            # skip to the group's closing paren
            d = 1
            j = m.end()
            while j < len(pattern) and d:
                if pattern[j] == "\\":
                    j += 2
                    continue
                if pattern[j] == "(":
                    d += 1
                elif pattern[j] == ")":
                    d -= 1
                j += 1
            i = j
            continue
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(pattern[i + 1])
            i += 2
            continue
        if ch in "^$":
            i += 1
            continue
        if ch in "()[]{}*+?|.":
            raise ValueError(
                f"to_attributes rule {pattern!r}: non-literal text outside "
                "named groups is not supported (would silently mangle the "
                "span name)"
            )
        out.append(ch)
        i += 1
    return "".join(out)


def span_to_attributes(
    df: DataFrame,
    rules: list[str],
    break_after_match: bool = True,
    name_col: str = "name",
) -> DataFrame:
    """Apply extraction rules in order (span.go processToAttributes);
    with break_after_match a span stops at its first matching rule
    (tracked per row in a flag column, no driver-side branching)."""
    df = df.withColumn("__rule_done", F.lit(False))
    for pattern in rules:
        named = _group_indices(pattern)
        groups = [g for g, _ in named]
        if not groups:
            raise ValueError(f"rule {pattern!r} has no named groups")
        java_pat = re.sub(r"\(\?P<", "(?<", pattern)
        template = _template_from_rule(pattern)
        # literal replacement: escape Java replacement metacharacters
        replacement = template.replace("\\", "\\\\").replace("$", "\\$")
        name = F.col(name_col)
        matched = name.rlike(java_pat) & ~F.col("__rule_done")
        pairs = []
        for g, idx in named:
            pairs.extend([F.lit(g), F.regexp_extract(name, java_pat, idx)])
        extracted = F.create_map(*pairs)
        df = df.withColumn(
            "attributes",
            F.when(
                matched,
                F.map_concat(
                    F.map_filter(
                        F.col("attributes"), lambda k, _v: ~k.isin(*groups)
                    ),
                    extracted,
                ),
            ).otherwise(F.col("attributes")),
        ).withColumn(
            "__new_name",
            F.when(
                matched, F.regexp_replace(name, java_pat, replacement)
            ).otherwise(name),
        ).withColumn(
            "__rule_done",
            F.col("__rule_done") | matched if break_after_match
            else F.col("__rule_done"),
        ).withColumn(name_col, F.col("__new_name")).drop("__new_name")
    return df.drop("__rule_done")
