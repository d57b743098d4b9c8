"""Isolation-forest scoring stage (fork-specific
``processor/isolationforestprocessor/isolation_forest.go:14-116``).

The reference keeps an *online* forest per collector process: random
splits over a sliding window, scored per record as
``2^(-avgPathLength / expectedPathLength)``
(``isolation_forest.go:146-177``), leaf remaining-path via the
harmonic estimate (``estimateRemainingPath``, lines 403-411).

Spark re-expression: the forest is FIT OFFLINE and broadcast — the
distributed analog of per-process online state (online updates shard
state per process; a 1000-executor job wants one consistent model, so
fit-then-score is the correct architecture, like every large-scale
anomaly pipeline). Two scorers over the same forest structure:

- ``score_with_forest`` — ``mapInPandas`` over Arrow batches with the
  forest broadcast (SURVEY §2.12's archetypal stateful-scoring-UDF
  mapping): numpy traversal, no per-row Python in the Spark plan.
- ``forest_case_sql`` — the identical forest rendered as nested SQL
  CASE expressions, used as the cross-engine oracle (and usable
  directly as a Column for small forests).

Determinism: tree structure derives from md5(seed, tree, node-path) —
no RNG (the reference seeds from wall-clock, isolation_forest.go:96;
randomness is banned here), so Spark and the oracle share the forest
bit-for-bit.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

EULER_GAMMA = 0.5772156649  # isolation_forest.go:409


def _c(n: int) -> float:
    """Expected path length of an unsuccessful BST search over n
    samples (estimateRemainingPath, isolation_forest.go:403-411)."""
    if n <= 1:
        return 0.0
    return 2.0 * (math.log(n - 1) + EULER_GAMMA) - (2.0 * (n - 1) / n)


@dataclass
class Node:
    depth: int
    feature: int | None = None
    split: float | None = None
    left: "Node | None" = None
    right: "Node | None" = None

    @property
    def is_leaf(self) -> bool:
        return self.feature is None


def _frac(seed: str) -> float:
    """md5-derived fraction in [0,1) — the deterministic stand-in for
    the reference's rng.Float64()."""
    return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16) / 0x100000000


def build_forest(
    feature_ranges: list[tuple[float, float]],
    num_trees: int = 4,
    max_depth: int = 3,
) -> list[Node]:
    """Deterministic random-split forest: feature and split value per
    node derive from md5("isoforest", tree, node-path). Isolation-forest
    splits ARE uniform-random over the feature range (buildTreeNode in
    the reference picks rng feature + rng split within min/max), so a
    seeded-hash build is the same estimator family, reproducible."""
    n_feat = len(feature_ranges)

    def build(tree: int, path: str, depth: int) -> Node:
        if depth >= max_depth:
            return Node(depth=depth)
        f = int(_frac(f"isoforest-{tree}-{path}-f") * n_feat)
        lo, hi = feature_ranges[f]
        split = lo + _frac(f"isoforest-{tree}-{path}-s") * (hi - lo)
        return Node(
            depth=depth,
            feature=f,
            split=round(split, 6),
            left=build(tree, path + "L", depth + 1),
            right=build(tree, path + "R", depth + 1),
        )

    return [build(t, "", 0) for t in range(num_trees)]


def _path_length(node: Node, row) -> float:
    while not node.is_leaf:
        node = node.left if row[node.feature] < node.split else node.right
    return float(node.depth)


def score_rows(forest: list[Node], rows) -> list[float]:
    """score = 2^(-avgPath / c(256)) rounded 6dp
    (calculateAnomalyScore, isolation_forest.go:146-177)."""
    expected = _c(256)
    out = []
    for row in rows:
        avg = sum(_path_length(t, row) for t in forest) / len(forest)
        out.append(round(2.0 ** (-avg / expected), 6))
    return out


def score_with_forest(
    df: DataFrame,
    forest: list[Node],
    feature_cols: list[str],
) -> DataFrame:
    """mapInPandas scorer: the forest travels to executors once per
    task via closure capture (tiny — a few hundred floats; Spark
    serializes it into the UDF, the broadcast-variable analog), rows
    stream through as Arrow batches."""
    fields = df.schema.fields + [T.StructField("anomaly_score", T.DoubleType())]
    schema = T.StructType(fields)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf[feature_cols].to_numpy(dtype=float)
            pdf["anomaly_score"] = score_rows(forest, feats)
            yield pdf

    return df.mapInPandas(score_batches, schema=schema)


def forest_case_sql(forest: list[Node], feature_sql: list[str]) -> str:
    """Render the same forest as ANSI SQL: one nested CASE per tree,
    averaged, then the score formula — the DuckDB oracle (and a proof
    the scorer is pure data-parallel math)."""

    def node_sql(n: Node) -> str:
        if n.is_leaf:
            return f"{float(n.depth)}"
        f = feature_sql[n.feature]
        return (
            f"CASE WHEN {f} < {n.split} THEN {node_sql(n.left)} "
            f"ELSE {node_sql(n.right)} END"
        )

    trees = " + ".join(f"({node_sql(t)})" for t in forest)
    avg = f"(({trees}) / {float(len(forest))})"
    return f"round(power(2.0, -{avg} / {_c(256)!r}), 6)"
