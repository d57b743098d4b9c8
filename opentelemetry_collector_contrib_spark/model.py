"""Log-record data model: the pdata / stanza-Entry analog.

The reference keeps two row models (stanza ``entry.Entry`` during
parse, ``plog.Logs`` in the pipeline; see
``/root/reference/pkg/stanza/entry/entry.go:14-26`` and the 3-level
``ResourceLogs -> ScopeLogs -> LogRecord`` nesting). The nesting only
amortizes shared resource attrs per batch — the transformprocessor
flattens it before running statements
(``processor/transformprocessor/internal/logs/processor.go:53-57``).
Our model is therefore a flat DataFrame of log records; ``resource``
is an embedded struct column and regrouping-for-sinks is a partitioned
write.

Severity: the 24-level enum from
``/root/reference/pkg/stanza/entry/severity.go`` (4 sub-levels per
named band, OTel standard numbering).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Severity (pkg/stanza/entry/severity.go — Trace=1 .. Fatal4=24)
# ---------------------------------------------------------------------------

SEVERITY_NUMBER: dict[str, int] = {
    "trace": 1, "trace2": 2, "trace3": 3, "trace4": 4,
    "debug": 5, "debug2": 6, "debug3": 7, "debug4": 8,
    "info": 9, "info2": 10, "info3": 11, "info4": 12,
    "warn": 13, "warn2": 14, "warn3": 15, "warn4": 16,
    "error": 17, "error2": 18, "error3": 19, "error4": 20,
    "fatal": 21, "fatal2": 22, "fatal3": 23, "fatal4": 24,
}

# Common aliases accepted by the stanza severity parser
# (helper/severity_builder.go builds these default mappings).
SEVERITY_ALIASES: dict[str, str] = {
    "warning": "warn",
    "err": "error",
    "critical": "fatal",
    "crit": "fatal",
    "emerg": "fatal4",
    "emergency": "fatal4",
    "alert": "error3",
    "notice": "info2",
    "dbg": "debug",
    "informational": "info",
}

INFO, WARN = 9, 13


def severity_map_expr() -> Column:
    """A MapType literal column mapping lower(severity text) -> number.

    A tiny constant map evaluated JVM-side per row via ``element_at`` —
    the vectorized equivalent of the severity parser's lookup table.
    Includes aliases.

    Built as ONE SQL literal, which the JVM parses in one py4j round
    trip. A ``create_map`` of per-entry ``F.lit`` costs a round trip per
    key and per value, and so does ``F.lit`` of a Python list, which
    PySpark expands entry by entry. Both forms fold to the same map
    literal in the optimized plan.
    """
    full = dict(SEVERITY_NUMBER)
    for alias, target in SEVERITY_ALIASES.items():
        full[alias] = SEVERITY_NUMBER[target]
    return F.expr("map(" + ", ".join(f"'{k}', {v}" for k, v in full.items()) + ")")


def severity_number(text_col: Column, default: int = 0) -> Column:
    """Map a severity-text column to the 24-level number (0 = unknown)."""
    return F.coalesce(
        F.element_at(severity_map_expr(), F.lower(F.trim(text_col))),
        F.lit(default),
    )


def severity_band_text(num_col: Column) -> Column:
    """Number -> canonical band text (INFO for 9-12, etc.)."""
    expr = F.lit(None).cast("string")
    # build when-chain from highest band down
    chain = F.when(num_col >= 21, "FATAL")
    for lo, txt in [(17, "ERROR"), (13, "WARN"), (9, "INFO"), (5, "DEBUG"), (1, "TRACE")]:
        chain = chain.when(num_col >= lo, txt)
    return chain.otherwise(expr)


# Transcript input table (BASELINE.json input_hint)
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
