"""Nested-cell WRITE support for the flat log model.

Nested pcommon values live in MAP<STRING,STRING> cells as compact
JSON (see ottl_compiler._json_literal); reads walk them with
get_json_object. Writes need structural editing Spark lacks a builtin
for, so ``json_set`` is an Arrow-batched pandas UDF: parse the cell,
walk/create the static path segments, set (or append), re-dump
compact. One Python invocation per batch — the same budget as the
reference's per-record pcommon mutation, paid only on statements that
actually write nested paths.
"""
from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


def _set_path(root, segs: list, value, append: bool):
    """Walk/create segs in root (dicts/lists), set or append value at
    the leaf. Returns the (possibly new) root."""
    if root is None or not isinstance(root, (dict, list)):
        root = {} if not (segs and isinstance(segs[0], int)) else []
    node = root
    for i, seg in enumerate(segs[:-1]):
        nxt_is_int = isinstance(segs[i + 1], int)
        if isinstance(seg, int):
            while isinstance(node, list) and len(node) <= seg:
                node.append(None)
            if not isinstance(node[seg], (dict, list)):
                node[seg] = [] if nxt_is_int else {}
            node = node[seg]
        else:
            if not isinstance(node, dict):
                return root  # type clash: leave unedited
            if not isinstance(node.get(seg), (dict, list)):
                node[seg] = [] if nxt_is_int else {}
            node = node[seg]
    leaf = segs[-1]
    if append:
        if isinstance(leaf, int):
            return root
        if not isinstance(node, dict):
            return root
        cur = node.get(leaf)
        if cur is None:
            node[leaf] = [value]
        elif isinstance(cur, list):
            cur.append(value)
        else:
            node[leaf] = [cur, value]
        return root
    if isinstance(leaf, int):
        if isinstance(node, list):
            while len(node) <= leaf:
                node.append(None)
            node[leaf] = value
        return root
    if isinstance(node, dict):
        node[leaf] = value
    return root


def json_set(
    cell: Column, segs: list, value: Column, append: bool = False
) -> Column:
    """Set (or append) ``value`` at static path ``segs`` inside a
    JSON-encoded cell; missing intermediate containers are created
    (pcommon PutStr on a nested map). NULL value -> cell unchanged
    (set()'s nil gate)."""
    segs = list(segs)

    @pandas_udf("string")
    def _edit(cells: pd.Series, vals: pd.Series) -> pd.Series:
        out = []
        for c, v in zip(cells, vals):
            if v is None:
                out.append(c)
                continue
            try:
                root = json.loads(c) if c is not None else None
            except (TypeError, ValueError):
                root = c  # scalar cell: becomes a container root
            root = _set_path(root, segs, v, append)
            out.append(json.dumps(root, separators=(",", ":")))
        return pd.Series(out)

    return _edit(cell.cast("string"), value.cast("string"))
