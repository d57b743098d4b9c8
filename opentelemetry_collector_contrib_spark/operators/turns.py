"""Turn-level operators over conversation transcripts — the step
between corpus curation and training-data emission for multi-turn
data: per-turn context windows and (context, response) SFT pairs.

The transcript model is the north-star input shape
(conv_id, turn_idx, role, text, tool, ts); per-conversation order is
re-established with window functions over (conv_id, turn_idx) — the
engine's replacement for the reference pipeline's per-source FIFO
guarantee (pkg/stanza/fileconsumer/design.md:38-49).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def turn_context(
    df: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Attach each turn's rolling context: the previous ``n`` turns
    of its conversation, oldest first, rendered ``role: text`` and
    joined with newlines.

    One window per conversation (ROWS BETWEEN n PRECEDING AND 1
    PRECEDING — O(n) state per row, no whole-conversation
    materialization). Conversations are millions of small groups:
    the exchange is the partitioning a transcript pipeline already
    keeps, and no group serializes more than its own turns.
    """
    w = (
        W.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-n, -1)
    )
    line = F.concat_ws(": ", F.col("role"), F.col("text"))
    return df.withColumn(
        "context",
        F.array_join(F.collect_list(line).over(w), "\n"),
    )


def sft_pairs(
    df: DataFrame,
    n: int = 3,
) -> DataFrame:
    """(context, response) supervised pairs: one row per turn whose
    role is ``assistant``, context = the preceding ``n`` turns.
    Turns with EMPTY context (conversation openers) are dropped — a
    response with no prompt is not a training pair.
    """
    ctx = turn_context(df, n)
    return (
        ctx.filter(F.col("role") == "assistant")
        .filter(F.col("context") != "")
        .select(
            "conv_id",
            "turn_idx",
            F.col("context"),
            F.col("text").alias("response"),
        )
    )
