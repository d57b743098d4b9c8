"""metricstarttime processor: assign start timestamps to cumulative
series (processor/metricstarttimeprocessor README; the prometheus-
receiver companion).

Three strategies over the flat series model (series key columns +
``ts`` + ``value``):

- ``true_reset_point``: the first observed point of each series
  becomes a True Reset point (start_ts == ts); later points reuse that
  first timestamp as their start.
- ``subtract_initial_point``: the first point is dropped, its value is
  subtracted from later points, and its timestamp becomes their
  start_ts (stateless-correct rates; the strategy the reference
  recommends).
- ``start_time_metric``: start_ts for every point is the value of the
  ``process_start_time`` series in the same group.

All three are ONE window over (series key) ordered by (ts, tiebreak) —
a single shuffle on the series key, no state store; the reference
keeps a per-series in-memory map instead (internal/
truereset/true_reset.go shape).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def metric_start_time(
    df: DataFrame,
    series_cols: list[str],
    strategy: str = "true_reset_point",
    order_cols: list[str] | None = None,
) -> DataFrame:
    order = [F.col("ts")] + [F.col(c) for c in (order_cols or [])]
    w = W.partitionBy(*series_cols).orderBy(*order)
    first_ts = F.first("ts").over(w)
    first_val = F.first("value").over(w)
    if strategy == "true_reset_point":
        return df.withColumn("start_ts", first_ts)
    if strategy == "subtract_initial_point":
        out = (
            df.withColumn("start_ts", first_ts)
            .withColumn("__rn", F.row_number().over(w))
            .withColumn("value", F.col("value") - first_val)
        )
        return out.filter(F.col("__rn") > 1).drop("__rn")
    if strategy == "start_time_metric":
        # start time = the process_start_time point's value within the
        # same series group (minus the metric name itself)
        group = [c for c in series_cols if c != "metric_name"]
        wg = W.partitionBy(*group)
        start = F.max(
            F.when(
                F.col("metric_name") == "process_start_time",
                F.col("value"),
            )
        ).over(wg)
        # window BEFORE the filter — the start-metric row must still be
        # in the partition when the max is taken
        return df.withColumn("start_ts", F.timestamp_seconds(start)).filter(
            F.col("metric_name") != "process_start_time"
        )
    raise ValueError(f"unknown strategy {strategy!r}")
