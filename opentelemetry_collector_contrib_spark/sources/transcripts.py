"""Deterministic synthetic transcript generator (the input table).

The primary input per BASELINE.json ``input_hint`` is an Iceberg table
of multi-turn agent transcripts::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

No external data exists in the sandbox, so this module synthesises it
deterministically — pure column expressions over ``spark.range`` (the
analog of the reference's benchmark generator,
``pkg/stanza/operator/input/generate`` and the testbed
PerfTestDataProvider). Everything derives from ``xxhash64(id, seed)``:
same seed => bit-identical table at any parallelism, no wall clock, no
Python row loop — generation runs at JVM speed and scales linearly
with cores.

Skew is generated on purpose: ``hot_frac`` of conversations get
``hot_mult``x the turns (FIXTURES.md F1) so the skew paths — the AQE
rebalance before the sink and the unsalted conv_id-keyed windows and
aggregates — are actually exercised.

Text mix (FIXTURES.md F1):
  (a) plain prose               — word salad from a fixed vocabulary
  (b) log lines                 — ``2026-..Z INFO 10.1.2.3 GET /api/v1/x 200 123ms``
  (c) JSON tool-call payloads   — for role='tool' turns
  (d) continuation lines        — text starts with whitespace
      (recombine/multiline reassembly test input,
      transformer/recombine semantics)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# epoch seconds of 2026-01-01T00:00:00Z
BASE_EPOCH = 1767225600

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "query", "result",
    "model", "token", "prompt", "answer",
]

# 16 known tools (in tool_dim) + 2 unknown (exercise the left-join
# null path / insert-if-absent coalesce, FIXTURES.md F2)
KNOWN_TOOLS = [
    "search", "browser", "python", "bash", "calculator", "calendar",
    "email", "sql", "files", "editor", "translate", "weather",
    "maps", "news", "stocks", "imagegen",
]
UNKNOWN_TOOLS = ["shadow_tool", "legacy_api"]
ALL_TOOLS = KNOWN_TOOLS + UNKNOWN_TOOLS

HTTP_METHODS = ["GET", "POST", "PUT", "DELETE"]
HTTP_STATUS = [200, 200, 200, 201, 204, 301, 400, 404, 500, 503]
LOG_SEVERITIES = ["DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR"]
API_RESOURCES = ["users", "orders", "items", "search", "admin", "health"]


def _h(*cols: Column | str | int) -> Column:
    """Positive xxhash64 over the args (the deterministic entropy source)."""
    return F.abs(F.xxhash64(*[F.lit(c) if not isinstance(c, Column) else c for c in cols]))


def _pick(arr: list, hash_col: Column) -> Column:
    """Pick an element of a literal array by hash (1-based element_at)."""
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (hash_col % len(arr) + 1).cast("int"))


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    turns_per_conv: int = 20,
    hot_frac: float = 0.001,
    hot_mult: int = 100,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Build the deterministic transcript DataFrame.

    Each conversation ``c`` gets ``turns_per_conv ± 50%`` turns
    (hash-derived); a ``hot_frac`` slice gets ``hot_mult``x that
    (hot-conversation skew). Rows are produced by exploding a
    per-conversation ``sequence`` — a narrow, shuffle-free plan.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2

    convs = spark.range(0, n_convs, numPartitions=partitions)
    ch = _h(F.col("id"), seed)  # per-conv hash

    base_turns = (turns_per_conv / 2 + (ch % (turns_per_conv + 1))).cast("int")
    hot_mod = max(1, int(round(1.0 / hot_frac))) if hot_frac > 0 else 0
    if hot_mod:
        is_hot = (_h(F.col("id"), "hot", seed) % hot_mod) == 0
        n_turns = F.when(is_hot, base_turns * hot_mult).otherwise(base_turns)
    else:
        n_turns = base_turns

    df = (
        convs.withColumn("n_turns", n_turns)
        .withColumn("conv_offset", (ch % (30 * 86400)).cast("long"))
        .select(
            F.col("id"),
            F.col("conv_offset"),
            F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
        )
    )

    th = _h(F.col("id"), F.col("turn_idx"), seed)          # per-turn hash
    tt = _h(F.col("id"), F.col("turn_idx"), "tt", seed)    # text-template hash

    role = (
        F.when(th % 100 < 40, "user")
        .when(th % 100 < 80, "assistant")
        .when(th % 100 < 95, "tool")
        .otherwise("system")
    )
    tool = F.when(role == "tool", _pick(ALL_TOOLS, _h(F.col("id"), F.col("turn_idx"), "tool", seed)))

    ts = F.timestamp_seconds(
        F.lit(BASE_EPOCH) + F.col("conv_offset") + F.col("turn_idx") * (1 + th % 30)
    )

    # --- text templates ------------------------------------------------
    prose = F.concat_ws(
        " ",
        *[_pick(VOCAB, _h(F.col("id"), F.col("turn_idx"), f"w{i}", seed)) for i in range(8)],
    )

    log_sev = _pick(LOG_SEVERITIES, _h(F.col("id"), F.col("turn_idx"), "sev", seed))
    logline = F.format_string(
        "%s %s 10.%d.%d.%d %s /api/v%d/%s %d %dms",
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        log_sev,
        (th % 8).cast("int"),
        (tt % 256).cast("int"),
        (_h(F.col("id"), F.col("turn_idx"), "ip", seed) % 256).cast("int"),
        _pick(HTTP_METHODS, _h(F.col("id"), F.col("turn_idx"), "m", seed)),
        (th % 3 + 1).cast("int"),
        _pick(API_RESOURCES, _h(F.col("id"), F.col("turn_idx"), "r", seed)),
        _pick(HTTP_STATUS, _h(F.col("id"), F.col("turn_idx"), "st", seed)).cast("int"),
        (tt % 1000).cast("int"),
    )

    tool_json = F.format_string(
        '{"tool":"%s","args":{"q":"%s","n":%d},"status":"%s"}',
        tool,
        _pick(VOCAB, _h(F.col("id"), F.col("turn_idx"), "q", seed)),
        (tt % 50).cast("int"),
        F.when(tt % 10 < 8, "ok").otherwise("error"),
    )

    continuation = F.format_string(
        "    at %s.%s(frame_%d)",
        _pick(VOCAB, _h(F.col("id"), F.col("turn_idx"), "c1", seed)),
        _pick(VOCAB, _h(F.col("id"), F.col("turn_idx"), "c2", seed)),
        (tt % 64).cast("int"),
    )

    text = (
        F.when(role == "tool", tool_json)
        .when(tt % 100 < 50, prose)
        .when(tt % 100 < 80, logline)
        .when((tt % 100 < 90) & (F.col("turn_idx") > 0), continuation)
        .otherwise(prose)
    )

    return df.select(
        F.format_string("conv-%08d", F.col("id")).alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
