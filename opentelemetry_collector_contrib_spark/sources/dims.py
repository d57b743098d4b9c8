"""Lookup dimension tables (k8sattributes / resource-enrich analog).

The reference enriches records by broadcast-style lookups against
watch-fed caches (``processor/k8sattributesprocessor/processor.go:140-207``).
Our dimensions are small tables the driver materialises once and Spark
broadcasts into every enrich join (FIXTURES.md F2).

Both dims are built from an Arrow table, which Spark plans as a JVM
``LocalRelation``: broadcasting it starts no Python worker, though
Spark still collects it for the broadcast through one small job. A
list of Python tuples would plan as ``Scan ExistingRDD`` instead, and
every job that broadcasts it would start a Python worker to unpickle a
handful of rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .transcripts import KNOWN_TOOLS

ROLE_DIM_ROWS = [
    # role, role_kind, priority, sla_ms
    ("user", "human", 1, 500),
    ("assistant", "model", 2, 2000),
    ("tool", "system", 3, 10000),
    ("system", "system", 4, 100),
]

_TOOL_FAMILY = {
    "search": "retrieval", "browser": "retrieval", "news": "retrieval",
    "python": "compute", "bash": "compute", "calculator": "compute",
    "sql": "data", "files": "data", "editor": "data",
    "calendar": "productivity", "email": "productivity",
    "translate": "nlp", "weather": "external", "maps": "external",
    "stocks": "external", "imagegen": "media",
}


def _local_dim(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Rows -> a ``LocalRelation`` DataFrame (see the module docstring)."""
    schema = StructType.fromDDL(ddl)
    return spark.createDataFrame(pa.table(list(zip(*rows)), names=schema.names), schema)


def role_dim(spark: SparkSession) -> DataFrame:
    return _local_dim(
        spark, ROLE_DIM_ROWS, "role string, role_kind string, priority int, sla_ms int"
    )


def tool_dim(spark: SparkSession) -> DataFrame:
    rows = [
        (t, _TOOL_FAMILY[t], f"team-{_TOOL_FAMILY[t]}", t in ("maps", "stocks"))
        for t in KNOWN_TOOLS
    ]
    return _local_dim(
        spark, rows, "tool string, tool_family string, owner string, deprecated boolean"
    )
