"""Filtering + sampling: filterprocessor, stanza filter, probabilistic
sampler, tail sampler (batch form).

Reference semantics:
- filterprocessor drops a record when ANY condition in the list is
  true (OR of OTTL conditions, ``processor/filterprocessor/logs.go:68-88``).
- stanza filter drops on expr match with a sampling ratio ``dropCutoff``
  in [0,1000) (``transformer/filter/transformer.go:18-55``) — the Go
  code uses rand; we must be deterministic, so ratio sampling hashes
  stable key columns.
- probabilistic sampler hashes a randomness source (trace_id or a
  configured attribute) with a seed and compares against a threshold
  (``processor/probabilisticsamplerprocessor/logsprocessor.go:124-156``).
- tail sampler buffers whole traces then applies policies
  (``processor/tailsamplingprocessor``); batch form = group-level
  policy aggregation + semi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_processor(df: DataFrame, drop_conditions: list[Column]) -> DataFrame:
    """Drop where ANY condition is true; NULL condition = false
    (matches OTTL error_mode=ignore condition eval)."""
    if not drop_conditions:
        return df
    combined: Column | None = None
    for c in drop_conditions:
        c = F.coalesce(c.cast("boolean"), F.lit(False))
        combined = c if combined is None else (combined | c)
    return df.filter(~combined)


def probabilistic_sampler(
    df: DataFrame,
    percent: float,
) -> DataFrame:
    """Consistent hash sampling: keep row iff
    pmod(xxhash64(trace_id, 22), 2^14) < percent% of 2^14.

    The reference uses FNV over the randomness source with hash_seed
    (logsprocessor.go:124-156); identical keys always sample the same
    way — xxhash64 gives us the same property vectorized.
    """
    buckets = 1 << 14
    threshold = int(buckets * percent / 100.0)
    h = F.pmod(F.xxhash64(F.col("trace_id"), F.lit(22)), F.lit(buckets))
    return df.filter(h < threshold).withColumn(
        "sampling_threshold", F.lit(threshold)
    )


def tail_sampler(
    df: DataFrame,
    group_col: str,
    keep_policy: Column,
) -> DataFrame:
    """Batch tail sampling: evaluate ``keep_policy`` (an aggregate
    Column, e.g. max(severity_number) >= ERROR) per group, keep whole
    groups that pass. One shuffle for the agg; the semi-join broadcasts
    when the kept-group set is small (AQE decides)."""
    keep = df.groupBy(group_col).agg(keep_policy.alias("__keep")).filter(F.col("__keep"))
    return df.join(keep.select(group_col), on=group_col, how="left_semi")


# ---------------------------------------------------------------------------
# tail-sampling named policies
# (processor/tailsamplingprocessor: internal/sampling/*.go evaluators)
# ---------------------------------------------------------------------------
#
# Each policy builder returns an AGGREGATE Column evaluated per trace
# group by ``tail_sampler`` — the batch analog of the evaluator's
# Sampled/NotSampled decision over the buffered trace. Composite
# policies combine with & / | exactly like the and/composite policy
# wrappers (sampling/composite.go, sampling/and.go).


def policy_string_attribute(col: str, values: list[str]) -> Column:
    """string_attribute.go: any span carries one of the values."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.max(F.when(F.array_contains(arr, F.col(col)), 1).otherwise(0)) == 1


def policy_numeric_attribute(col: str, lo: float, hi: float) -> Column:
    """numeric_attribute.go: any value within [lo, hi]."""
    return F.max(
        F.when((F.col(col) >= lo) & (F.col(col) <= hi), 1).otherwise(0)
    ) == 1


def policy_and(*policies: Column) -> Column:
    """and.go: all sub-policies must sample."""
    out = policies[0]
    for p in policies[1:]:
        out = out & p
    return out


def policy_or(*policies: Column) -> Column:
    """composite OR: any sub-policy samples."""
    out = policies[0]
    for p in policies[1:]:
        out = out | p
    return out


def rate_limited_sampler(
    sampled: DataFrame,
    group_col: str,
    per_second: int,
) -> DataFrame:
    """rate_limiting.go: cap sampled traces per second; deterministic
    keep order (first per group-min-ts, group id tiebreak) so re-runs
    keep the identical subset. Operates on the group-level decision
    set (small), not raw spans."""
    from pyspark.sql import Window as W

    firsts = sampled.groupBy(group_col).agg(F.min(F.col("ts")).alias("__t0"))
    w = W.partitionBy(F.date_trunc("second", F.col("__t0"))).orderBy(
        F.col("__t0"), F.col(group_col)
    )
    keep = (
        firsts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_second)
        .select(group_col)
    )
    return sampled.join(keep, on=group_col, how="left_semi")


def remote_tap(
    df: DataFrame,
    limit_per_sec: float = 1.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """remotetapprocessor's rate-limited tap (README `limit`: messages
    per second duplicated to inspectors; the pipeline itself passes
    everything through untouched — callers keep using the input df).

    Batch form: the tap yields the first ``limit_per_sec`` rows of
    every wall-clock second, deterministically ordered by
    ``order_cols`` (the reference's token bucket is arrival-order;
    a distributed batch needs an explicit order). One window, one
    shuffle, and WindowGroupLimit prunes rows at the exchange.
    """
    from pyspark.sql.window import Window as W

    order = [F.col(c) for c in (order_cols or ["ts"])]
    if limit_per_sec >= 1:
        quota = int(limit_per_sec)
        bucket = F.date_trunc("second", F.col("ts"))
    else:
        # sub-1 rates (the reference default is 1, config allows e.g.
        # 0.5/sec): one row per 1/limit-second bucket
        quota = 1
        bucket = F.floor(
            F.unix_timestamp(F.col("ts")) * F.lit(float(limit_per_sec))
        )
    w = W.partitionBy(bucket).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )
