"""Aggregating connectors/processors: count, sum, dedup, recombine,
interval, delta<->cumulative, alert windows, histograms.

Each maps a stateful streaming Go component onto a declarative batch
form (window functions / groupBy.agg) that Catalyst executes with
partial (map-side) aggregation — the reference's hand-rolled counter
maps (``connector/countconnector/counter.go:90-106``) are exactly
what hash-aggregate partial+final does for free. Streaming variants
live in ``streaming/``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


# ---------------------------------------------------------------------------
# count / sum connectors
# ---------------------------------------------------------------------------

def count_connector(
    df: DataFrame,
    group_by: list[str],
    condition: Column | None = None,
    metric_name: str = "count",
) -> DataFrame:
    """connector/countconnector/counter.go:38-106 semantics.

    - optional OTTL condition filters rows first;
    - rows missing any grouped attribute (NULL, no default) are NOT
      counted (counter.go:70-73);
    - output is the delta-sum datapoint set: group tuple + value.
    """
    out = df
    if condition is not None:
        out = out.filter(condition)
    for g in group_by:
        out = out.filter(F.col(g).isNotNull())
    if group_by:
        return out.groupBy(*group_by).agg(F.count(F.lit(1)).alias(metric_name))
    return out.agg(F.count(F.lit(1)).alias(metric_name))


def sum_connector(
    df: DataFrame,
    value: str | Column,
    group_by: list[str],
    metric_name: str = "sum",
) -> DataFrame:
    """connector/sumconnector: count's shape, summing a numeric attr."""
    v = F.col(value) if isinstance(value, str) else value
    out = df.filter(v.isNotNull())
    for g in group_by:
        out = out.filter(F.col(g).isNotNull())
    if group_by:
        return out.groupBy(*group_by).agg(F.sum(v).alias(metric_name))
    return out.agg(F.sum(v).alias(metric_name))


# ---------------------------------------------------------------------------
# keep-first row structs: min/max(struct(..row..)) needs orderable columns
# ---------------------------------------------------------------------------

def _row_struct(df: DataFrame, cols: list[str]) -> Column:
    """``struct(cols)`` for a min/max keep-first aggregate. A map has no
    ordering, so each map column is carried as its key-sorted entry
    array (keys are unique, so ties still break deterministically);
    ``_row_field`` decodes it. Frames without maps get the plain struct."""
    maps = {f.name for f in df.schema.fields if isinstance(f.dataType, MapType)}
    return F.struct(*[
        F.array_sort(F.map_entries(F.col(c))).alias(c) if c in maps else F.col(c)
        for c in cols
    ])


def _row_field(df: DataFrame, row: str, c: str) -> Column:
    """Column ``c`` of a ``_row_struct`` at path ``row``, as it was."""
    field = F.col(f"{row}.{c}")
    if isinstance(df.schema[c].dataType, MapType):
        field = F.map_from_entries(field)
    return field.alias(c)


# ---------------------------------------------------------------------------
# logdedup processor (processor/logdedupprocessor/processor.go:85-160)
# ---------------------------------------------------------------------------

def log_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    interval: str = "10 seconds",
) -> DataFrame:
    """Within each tumbling ``interval``, collapse identical records
    (the record-identity hash minus exclude_fields ≙ ``key_cols``) to
    the FIRST occurrence + count + first/last observed timestamps
    (aggregator counter.go:27-95 keeps firstObserved/lastObserved).

    One shuffle on (window, key); map-side partial agg shrinks
    duplicates before the exchange, so at 100 TB the shuffle carries
    ~distinct keys, not raw rows.
    """
    t = F.col(ts_col)
    win = F.window(t, interval)
    keep_first = F.struct(t.alias("__ts"), _row_struct(df, df.columns).alias("row"))
    agg = (
        df.groupBy(win.alias("window"), *key_cols)
        .agg(
            F.min(keep_first).alias("__first"),
            F.count(F.lit(1)).alias("log_count"),
            F.min(t).alias("first_observed_ts"),
            F.max(t).alias("last_observed_ts"),
        )
    )
    # re-expand the kept-first record's non-key columns
    other = [c for c in df.columns if c not in key_cols]
    sel = (
        [F.col("window.start").alias("window_start")]
        + [F.col(c) for c in key_cols]
        + [_row_field(df, "__first.row", c) for c in other]
        + [F.col("log_count"), F.col("first_observed_ts"), F.col("last_observed_ts")]
    )
    return agg.select(*sel)


# ---------------------------------------------------------------------------
# recombine (transformer/recombine/transformer.go:25-53,101-195)
# multiline / sessionization via prefix-sum group ids
# ---------------------------------------------------------------------------

def recombine(
    df: DataFrame,
    source_cols: list[str],
    order_col: str,
    is_first_entry: Column | None = None,
    combine_col: str = "text",
    combine_with: str = "\n",
    max_batch_size: int | None = 1000,
    is_last_entry: Column | None = None,
    overwrite_with: str = "oldest",
    max_log_size: int | None = None,
    force_flush_timeout: str | None = None,
    ts_col: str | None = None,
    max_unmatched_batch_size: int | None = None,
) -> DataFrame:
    """Group consecutive rows per source into one combined row.

    Batch form of the stanza recombine operator
    (pkg/stanza/operator/transformer/recombine/config.go:40-58): within
    each source (default log.file.path; for transcripts: conv_id),
    ordered by ``order_col``, either ``is_first_entry`` STARTS a group
    or ``is_last_entry`` ENDS one (exactly one must be given); groupBy
    then concatenates ``combine_col`` with ``combine_with`` in order.
    ``overwrite_with`` picks whose metadata the combined row keeps:
    'oldest' (first row, the default) or 'newest' (last row).

    Caps (transformer.go:188-195 flush conditions):

    - ``max_batch_size``: flush every N entries.  Defaults to 1000 —
      the reference default (config.go:40) — so a pathological
      never-flushing source cannot grow one group's ``collect_list``
      buffer without bound; pass ``None`` explicitly for uncapped.
    - ``max_log_size``: flush once the combined text (separators
      included) EXCEEDS the byte cap — the entry that crosses the cap
      is still included, matching ``recombined.Len() > maxLogSize``
      checked after the append.  Greedy reset-on-threshold is
      sequential, so this path folds each group's sorted rows with one
      ``F.aggregate`` (the group is already materialized for the
      concat; the fold adds no extra shuffle or Python).
    - ``force_flush_timeout``: the reference's idle timer flushes a
      batch when no entry arrives within the period; the batch analog
      splits a group wherever consecutive entries (by ``ts_col``) are
      further apart than the period.
    - ``max_unmatched_batch_size``: flush every N entries for batches
      with NO match (``!batch.matchDetected`` in transformer.go:190 —
      in the batch form these are the rows before the first
      ``is_first_entry`` match / after the last ``is_last_entry``
      match, detected as groups whose match-count is zero).

    The window + groupBy share the same partitioning key, so Catalyst
    plans ONE shuffle for both.
    """
    if (is_first_entry is None) == (is_last_entry is None):
        raise ValueError("recombine needs exactly one of is_first_entry/is_last_entry")
    w = W.partitionBy(*source_cols).orderBy(order_col)
    if is_first_entry is not None:
        match_int = F.when(is_first_entry, 1).otherwise(0)
        grouped = df.withColumn("__grp", F.sum(match_int).over(w))
    else:
        # a matching LAST row closes its group: the group id counts
        # matches strictly BEFORE the current row
        match_int = F.when(is_last_entry, 1).otherwise(0)
        wprev = w.rowsBetween(W.unboundedPreceding, -1)
        grouped = df.withColumn(
            "__grp", F.coalesce(F.sum(match_int).over(wprev), F.lit(0))
        )
    group_keys = source_cols + ["__grp"]
    if max_unmatched_batch_size:
        grouped = grouped.withColumn("__match", match_int)
    if force_flush_timeout:
        if not ts_col:
            raise ValueError("force_flush_timeout requires ts_col")
        gap_sec = _interval_seconds(force_flush_timeout)
        prev_ts = F.lag(F.col(ts_col)).over(w)
        brk = (
            F.col(ts_col).cast("timestamp").cast("long")
            - prev_ts.cast("timestamp").cast("long")
            > gap_sec
        ).cast("int")
        grouped = grouped.withColumn(
            "__tgrp",
            F.coalesce(F.sum(F.coalesce(brk, F.lit(0))).over(w), F.lit(0)),
        )
        group_keys = group_keys + ["__tgrp"]

    other = [c for c in df.columns if c not in source_cols and c != combine_col]

    if max_log_size:
        return _recombine_size_capped(
            grouped, source_cols, group_keys, order_col, combine_col,
            combine_with, other, overwrite_with, max_log_size,
            max_batch_size, max_unmatched_batch_size,
        )

    if max_batch_size or max_unmatched_batch_size:
        # flush groups larger than their cap: max_batch_size for
        # matched batches (config default 1000), the tighter
        # max_unmatched_batch_size (default 100) for groups where the
        # predicate never matched — sub-split every cap rows
        big = 1 << 62
        cap_m = max_batch_size or big
        cap_u = min(cap_m, max_unmatched_batch_size or big)
        wg = W.partitionBy(*group_keys).orderBy(order_col)
        if max_unmatched_batch_size:
            if is_last_entry is not None:
                # matchDetected is cumulative in transformer.go:190 —
                # in is_last_entry mode the match only arrives at the
                # group's FINAL row (the group id splits right after
                # it), so every row of the group accumulates under the
                # unmatched cap; the matching row flushes the batch on
                # arrival regardless of cap (ADVICE r3 fix: the old
                # group-wide max wrongly granted the matched cap to
                # the whole group).
                cap = F.lit(cap_u)
            else:
                # is_first_entry mode: the match, if any, is the
                # group's FIRST row, so a group-wide max equals the
                # reference's running matchDetected for every row
                matched = F.max("__match").over(
                    W.partitionBy(*group_keys)
                ) == 1
                cap = F.when(matched, F.lit(cap_m)).otherwise(F.lit(cap_u))
        else:
            cap = F.lit(cap_m)
        grouped = grouped.withColumn(
            "__grp_part",
            F.floor((F.row_number().over(wg) - 1) / cap).cast("long"),
        )
        group_keys = group_keys + ["__grp_part"]

    ordered_pair = F.struct(F.col(order_col).alias("__o"), F.col(combine_col).alias("v"))
    meta_pair = F.struct(F.col(order_col).alias("__o"), _row_struct(df, other).alias("row"))
    agg = (
        grouped.groupBy(*group_keys)
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(ordered_pair)), lambda s: s["v"]),
                combine_with,
            ).alias(combine_col),
            (F.min(meta_pair) if overwrite_with == "oldest"
             else F.max(meta_pair)).alias("__meta"),
            F.count(F.lit(1)).alias("recombined_count"),
        )
    )
    sel = (
        [F.col(c) for c in source_cols]
        + [_row_field(df, "__meta.row", c) for c in other]
        + [F.col(combine_col), F.col("recombined_count")]
    )
    return agg.select(*sel)


def _recombine_size_capped(
    grouped: DataFrame,
    source_cols: list[str],
    group_keys: list[str],
    order_col: str,
    combine_col: str,
    combine_with: str,
    other: list[str],
    overwrite_with: str,
    max_log_size: int,
    max_batch_size: int | None,
    max_unmatched_batch_size: int | None = None,
) -> DataFrame:
    """Greedy size-capped recombine: fold each group's sorted rows into
    sub-batches, flushing when the combined text exceeds max_log_size
    (or hits max_batch_size entries; or max_unmatched_batch_size
    entries while no row has matched the predicate) — the exact
    sequential semantics of transformer.go addToBatch, expressed as
    one ``F.aggregate`` per group (no UDF, no extra shuffle)."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

    has_match_col = "__match" in grouped.columns
    rowstruct = F.struct(
        F.col(order_col).alias("__o"),
        F.col(combine_col).cast("string").alias("__v"),
        (F.col("__match") if has_match_col else F.lit(1)).alias("__m"),
        _row_struct(grouped, other).alias("row"),
    )
    tmp = grouped.select(rowstruct.alias("__r"))
    r_dt = tmp.schema["__r"].dataType
    meta_dt = next(f.dataType for f in r_dt.fields if f.name == "row")
    batch_dt = StructType([
        StructField("text", StringType()),
        StructField("meta", meta_dt),
        StructField("cnt", IntegerType()),
    ])
    batches_dt = ArrayType(batch_dt)

    agg_rows = grouped.groupBy(*group_keys).agg(
        F.array_sort(F.collect_list(rowstruct)).alias("__rows")
    )

    initial = F.struct(
        F.array().cast(batches_dt).alias("batches"),
        F.lit("").alias("cur_text"),
        F.lit(None).cast(meta_dt).alias("cur_meta"),
        F.lit(0).alias("cur_cnt"),
        F.lit(False).alias("cur_matched"),
    )
    newest = overwrite_with == "newest"

    def merge(acc, r):
        started = acc["cur_cnt"] > 0
        new_text = F.when(
            started, F.concat(acc["cur_text"], F.lit(combine_with), r["__v"])
        ).otherwise(r["__v"])
        meta = (
            r["row"] if newest
            else F.when(started, acc["cur_meta"]).otherwise(r["row"])
        )
        cnt = acc["cur_cnt"] + 1
        matched = acc["cur_matched"] | (r["__m"] == 1)
        # byte length, not chars: recombined.Len() is a byte count
        flush = F.octet_length(new_text) > max_log_size
        if max_batch_size:
            flush = flush | (cnt >= max_batch_size)
        if max_unmatched_batch_size:
            flush = flush | (~matched & (cnt >= max_unmatched_batch_size))
        done = F.struct(
            new_text.alias("text"), meta.alias("meta"), cnt.alias("cnt")
        )
        return F.struct(
            F.when(flush, F.concat(acc["batches"], F.array(done)))
            .otherwise(acc["batches"]).alias("batches"),
            F.when(flush, F.lit("")).otherwise(new_text).alias("cur_text"),
            F.when(flush, F.lit(None).cast(meta_dt))
            .otherwise(meta).alias("cur_meta"),
            F.when(flush, F.lit(0)).otherwise(cnt).alias("cur_cnt"),
            F.when(flush, F.lit(False)).otherwise(matched).alias("cur_matched"),
        )

    def finish(acc):
        tail = F.struct(
            acc["cur_text"].alias("text"),
            acc["cur_meta"].alias("meta"),
            acc["cur_cnt"].alias("cnt"),
        )
        return F.when(
            acc["cur_cnt"] > 0, F.concat(acc["batches"], F.array(tail))
        ).otherwise(acc["batches"])

    folded = agg_rows.select(
        *source_cols,
        F.explode(F.aggregate(F.col("__rows"), initial, merge, finish)).alias(
            "__b"
        ),
    )
    return folded.select(
        *source_cols,
        *[_row_field(grouped, "__b.meta", c) for c in other],
        F.col("__b.text").alias(combine_col),
        F.col("__b.cnt").alias("recombined_count"),
    )


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization (groupbytrace / session-window analog):
    new session when ts - lag(ts) > gap. Returns df + session_id."""
    gap_sec = _interval_seconds(gap)
    w = W.partitionBy(*key_cols).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # cast via TIMESTAMP first: parquet TIMESTAMP_NTZ has no direct
    # long cast (session tz is pinned UTC so the epoch is unambiguous)
    cur_s = F.col(ts_col).cast("timestamp").cast("long")
    prev_s = prev.cast("timestamp").cast("long")
    new_sess = (prev.isNull() | (cur_s - prev_s > gap_sec)).cast("int")
    return df.withColumn("session_seq", F.sum(new_sess).over(w)).withColumn(
        "session_id",
        F.concat_ws("#", *[F.col(c) for c in key_cols], F.col("session_seq")),
    )


def _interval_seconds(s: str) -> int:
    num, unit = s.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60, "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
    return int(num) * mult


# ---------------------------------------------------------------------------
# delta <-> cumulative <-> rate
# ---------------------------------------------------------------------------

def delta_to_cumulative(
    df: DataFrame, stream_cols: list[str], value_col: str, ts_col: str = "ts", out_col: str | None = None
) -> DataFrame:
    """Running sum per stream (processor/deltatocumulativeprocessor)."""
    w = (
        W.partitionBy(*stream_cols)
        .orderBy(ts_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(out_col or f"{value_col}_cumulative", F.sum(value_col).over(w))


def cumulative_to_delta(
    df: DataFrame, stream_cols: list[str], value_col: str, ts_col: str = "ts", out_col: str | None = None
) -> DataFrame:
    """value - lag(value) per stream
    (cumulativetodeltaprocessor/internal/tracking/tracker.go:153-158;
    first point in a stream has no reference -> NULL/dropped)."""
    w = W.partitionBy(*stream_cols).orderBy(ts_col)
    return df.withColumn(out_col or f"{value_col}_delta", F.col(value_col) - F.lag(value_col).over(w))


def delta_to_rate(
    df: DataFrame, value_col: str, start_ts_col: str, ts_col: str = "ts", out_col: str = "rate"
) -> DataFrame:
    """delta / (ts - start_ts) seconds (deltatorateprocessor/processor.go:55-64)."""
    # NTZ-safe: cast through TIMESTAMP before numeric (session tz UTC)
    dur = (
        F.col(ts_col).cast("timestamp").cast("double")
        - F.col(start_ts_col).cast("timestamp").cast("double")
    )
    return df.withColumn(out_col, F.when(dur > 0, F.col(value_col) / dur))


# ---------------------------------------------------------------------------
# groupbyattrs (processor/groupbyattrsprocessor/processor.go:63-100)
# ---------------------------------------------------------------------------

def group_by_attrs(df: DataFrame, promote: list[str]) -> DataFrame:
    """Move listed attribute columns into the resource struct (re-key).

    Grouping under the new resource is physical-only in Spark —
    partitioned writes / later groupBys pick it up; no shuffle here.
    """
    existing = (
        [F.col(f"resource.{f.name}") for f in df.schema["resource"].dataType.fields]
        if "resource" in df.columns
        else []
    )
    new_res = F.struct(*existing, *[F.col(c).alias(c) for c in promote])
    return df.withColumn("resource", new_res).drop(*promote)


# ---------------------------------------------------------------------------
# alertsgen connector (fork-specific; connector/alertsgenconnector)
# ---------------------------------------------------------------------------

def alert_windows(
    df: DataFrame,
    group_by: list[str],
    ts_col: str = "ts",
    window: str = "5 seconds",
    exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """Sliding/tumbling window aggregation per rule group
    (alertsgenconnector/rules.go:61-139: avg/rate/count/quantile over a
    5 s window grouped by labels)."""
    win = F.window(F.col(ts_col), window)
    exprs = exprs or {"value_count": F.count(F.lit(1))}
    aggs = [c.alias(name) for name, c in exprs.items()]
    return (
        df.groupBy(win.alias("w"), *group_by)
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_by,
            *[F.col(name) for name in exprs],
        )
    )


def alert_rule(
    windowed: DataFrame,
    metric_col: str,
    threshold: float,
    comparison: str = ">",
    for_windows: int = 1,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Threshold + `for:` persistence: fire when the comparison holds
    for ``for_windows`` consecutive windows (rules.go `for:` duration).
    Batch form: count consecutive breaching windows with a run-id
    (window_start - rank * window_len groups consecutive runs)."""
    ops = {">": Column.__gt__, ">=": Column.__ge__, "<": Column.__lt__, "<=": Column.__le__, "==": Column.__eq__}
    breach = ops[comparison](F.col(metric_col), F.lit(threshold))
    gb = group_by or []
    df = windowed.withColumn("__breach", breach)
    if for_windows <= 1:
        return df.filter(F.col("__breach")).drop("__breach")
    w = W.partitionBy(*gb).orderBy("window_start")
    df = df.withColumn("__rn", F.row_number().over(w))
    # consecutive-breach run id: rn - rank-within-breaches
    wb = W.partitionBy(*gb, "__breach").orderBy("window_start")
    df = df.withColumn("__runid", F.col("__rn") - F.row_number().over(wb))
    wrun = W.partitionBy(*gb, "__breach", "__runid").orderBy("window_start")
    df = df.withColumn("__streak", F.row_number().over(wrun))
    return (
        df.filter(F.col("__breach") & (F.col("__streak") >= for_windows))
        .drop("__breach", "__rn", "__runid", "__streak")
    )


def alert_select(df: DataFrame, select: dict[str, str]) -> DataFrame:
    """Label-select regexes (rules.go:95-101 ``rc.Select`` map): a row
    participates in a rule only when EVERY selected label matches its
    regex. NULL labels never match (re.MatchString on missing = false).
    """
    for col, pattern in select.items():
        df = df.filter(F.coalesce(F.col(col).rlike(pattern), F.lit(False)))
    return df


def alert_absent(
    df: DataFrame,
    group_by: list[str],
    groups: DataFrame,
    window: str = "5 seconds",
) -> DataFrame:
    """absent_over_time (rules.go:128-132): fire for every
    (window, group) that saw NO rows. Batch form: the expected grid =
    (distinct windows in the data's time span) x (expected label
    groups, a small broadcastable dim — the rule's configured
    series), anti-joined against observed windows.

    Scale: the grid is |windows| x |groups| rows — windows are the
    job's time span / window size and groups is rule cardinality, both
    tiny next to the event volume; the anti-join's observed side is a
    pre-aggregated (group, window) set, one map-side-combined shuffle
    of distinct keys, never raw events."""
    win = F.window(F.col("ts"), window)
    observed = (
        df.groupBy(win.alias("w"), *group_by)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(F.col("w.start").alias("window_start"), *group_by)
    )
    windows = (
        df.select(win.alias("w"))
        .select(F.col("w.start").alias("window_start"))
        .distinct()
    )
    grid = windows.crossJoin(F.broadcast(groups))
    return grid.join(observed, on=["window_start", *group_by], how="left_anti")


def alert_fingerprint(df: DataFrame, rule_name: str, label_cols: list[str]) -> Column:
    """Dedup fingerprint (rules.go:514, config FingerprintLabels):
    stable hash of (rule, sorted labels). md5 keeps it engine-portable
    for the oracle; the streaming dedup drops duplicate fingerprints
    within the dedup window."""
    parts = [F.lit(rule_name)]
    for c in sorted(label_cols):
        parts.append(F.lit(c))
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
    return F.md5(F.concat_ws("\x1f", *parts))


def storm_limit(
    alerts: DataFrame,
    max_per_minute: int,
    ts_col: str = "window_start",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Storm limiter (storm.NewLimiter(cfg.Storm.MaxAlertsPerMinute),
    factory.go:121): cap emitted alerts per minute; deterministic
    keep-order = (ts, order_cols) so re-runs emit the identical
    subset. One window shuffle over the
    already-aggregated alert stream — negligible at any scale."""
    keys = [F.date_trunc("minute", F.col(ts_col)).alias("__minute")]
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    out = alerts.withColumn("__minute", keys[0])
    w = W.partitionBy("__minute").orderBy(*order)
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_minute)
        .drop("__minute", "__rn")
    )


# ---------------------------------------------------------------------------
# spanmetrics-style histogram (connector/spanmetricsconnector)
# ---------------------------------------------------------------------------

def bucket_index(v: Column, bounds: list[float]) -> Column:
    """Explicit-bucket index expression: bucket i covers
    value <= bounds[i]; last bucket (len(bounds)) = +Inf. The ONE
    definition batch and streaming histograms share."""
    idx: Column = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        idx = F.when(v <= F.lit(bounds[i]), F.lit(i)).otherwise(idx)
    return idx


def explicit_histogram(
    df: DataFrame,
    value_col: str,
    bounds: list[float],
    group_by: list[str],
) -> DataFrame:
    """Explicit-bucket histogram: bucket index per row (width_bucket
    semantics over explicit bounds), then count per (group, bucket)."""
    idx = bucket_index(F.col(value_col), bounds)
    return (
        df.withColumn("bucket_idx", idx)
        .groupBy(*group_by, "bucket_idx")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def k_smallest_exemplars(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int = 2,
) -> DataFrame:
    """K smallest ``id_col`` values per group in O(K) state per task —
    the exemplar-accumulation analog of ``connector/
    spanmetricsconnector/internal/metrics/metrics.go`` (which keeps a
    bounded exemplar slice per histogram bucket, never the full set).

    Scale shape: a ``collect_list`` per group would materialize every
    id of a hot bucket (billions of rows at 100 TB) in one aggregation
    buffer -> executor OOM.  Instead:

    1. salt the group key (``xxhash64(id) % 64``) and take
       ``row_number() <= k`` per (group, salt) — the sort runs per
       *salt group*, so a hot bucket fans out across 64
       tasks instead of serializing in one, and row_number streams in
       O(1) state over Spark's external (spill-safe) sort;
    2. re-rank the <= 64*k survivors per group — a tiny
       second window;
    3. collect the final <= k ids (bounded by construction).

    The K smallest of a set equal the K smallest of the union of each
    salt-partition's K smallest, so the result is exact.
    """
    from pyspark.sql import Window

    ids = df.select(*group_cols, F.col(id_col).alias("__ex_id")).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("__ex_id")), F.lit(64))
    )
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy("__ex_id")
    cand = (
        ids.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("__ex_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__ex_id")).alias("exemplar_ids"))
    )


def exponential_histogram(
    df: DataFrame,
    value_col: str,
    group_by: list[str],
    scale: int = 0,
) -> DataFrame:
    """Base-2 exponential histogram bucketing (spanmetricsconnector
    exponential form, ``connector/spanmetricsconnector/internal/
    metrics/metrics.go:37-77`` via go-expohisto; OTel exp-histogram
    data model).

    Bucket index for a positive value at scale s:
    ``ceil(log2(v) * 2^s) - 1`` — bucket i covers
    (base^i, base^(i+1)] with base = 2^(2^-s). Zero/negative values
    land in the zero bucket (index NULL, counted separately by the
    caller if needed); here non-positive rows are dropped like the
    reference's zero-bucket split.

    Cross-engine determinism: log2 is rounded to 9 dp before the
    ceil so Spark (JVM Math.log) and an oracle engine (libm) agree at
    power-of-base boundaries.

    Scale shape: pure expression + one map-side-combined groupBy —
    identical to explicit_histogram.
    """
    v = F.col(value_col)
    idx = F.ceil(F.round(F.log(2.0, v) * F.lit(float(2 ** scale)), 9)) - 1
    return (
        df.filter(v > 0)
        .withColumn("bucket_idx", idx.cast("int"))
        .groupBy(*group_by, "bucket_idx")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def alert_rule_stateful(
    windowed: DataFrame,
    metric_col: str,
    threshold: float,
    comparison: str = ">",
    for_windows: int = 1,
    group_by: list[str] | None = None,
    window_sec: int = 5,
    state_path: str | None = None,
) -> DataFrame:
    """alert_rule + cross-run streak continuity: the batch analog of
    alertsgen's TSDB state sync (README.md TSDB restore; the collector
    reloads per-series `for:` state on restart so a streak that began
    before the restart still fires on time).

    State file (parquet at ``state_path``): one row per rule group —
    (group..., last_window_start, streak). A new run seeds any breach
    run that starts at the batch's first window AND is contiguous with
    the stored last window (last_window_start + window_sec ==
    first window) with the stored streak; at the end it rewrites the
    state from this batch's tail. Everything is one window chain plus
    a broadcast join against the (tiny, one-row-per-group) state.
    """
    ops = {">": Column.__gt__, ">=": Column.__ge__, "<": Column.__lt__,
           "<=": Column.__le__, "==": Column.__eq__}
    breach = ops[comparison](F.col(metric_col), F.lit(threshold))
    gb = group_by or []
    spark = windowed.sparkSession

    df = windowed.withColumn("__breach", breach)
    w = W.partitionBy(*gb).orderBy("window_start")
    df = df.withColumn("__rn", F.row_number().over(w))
    wb = W.partitionBy(*gb, "__breach").orderBy("window_start")
    df = df.withColumn("__runid", F.col("__rn") - F.row_number().over(wb))
    wrun = W.partitionBy(*gb, "__breach", "__runid").orderBy("window_start")
    df = df.withColumn("__streak", F.row_number().over(wrun))
    df = df.withColumn("__grp_min", F.min("window_start").over(W.partitionBy(*gb)))

    prior = None
    if state_path and os.path.exists(state_path):
        # materialize the prior state BEFORE this run overwrites the
        # path (alert state is one row per rule group — operationally
        # tiny, same cardinality the collector holds in memory)
        prior_rows = spark.read.parquet(state_path).collect()
        if prior_rows:
            prior = spark.createDataFrame(prior_rows).select(
                *gb,
                F.col("last_window_start").alias("__prior_ws"),
                F.col("streak").alias("__prior_streak"),
            )
    if prior is not None:
        df = df.join(F.broadcast(prior), on=gb, how="left")
        contiguous = (
            F.col("__prior_ws")
            + F.expr(f"INTERVAL {window_sec} SECONDS")
            == F.col("__grp_min")
        )
        first_run_row = F.col("__rn") == F.col("__streak")  # run began at batch head
        seed = F.when(
            F.col("__breach") & first_run_row & contiguous,
            F.coalesce(F.col("__prior_streak"), F.lit(0)),
        ).otherwise(F.lit(0))
        df = df.withColumn("__streak", F.col("__streak") + seed)
        df = df.drop("__prior_ws", "__prior_streak")

    if state_path:
        # rewrite state from this batch's last window per group
        wlast = W.partitionBy(*gb).orderBy(F.col("window_start").desc())
        tail = (
            df.withColumn("__last", F.row_number().over(wlast))
            .filter(F.col("__last") == 1)
            .select(
                *gb,
                F.col("window_start").alias("last_window_start"),
                F.when(F.col("__breach"), F.col("__streak"))
                .otherwise(F.lit(0))
                .alias("streak"),
            )
        )
        tail.write.mode("overwrite").parquet(state_path)

    return (
        df.filter(F.col("__breach") & (F.col("__streak") >= for_windows))
        .drop("__breach", "__rn", "__runid", "__streak", "__grp_min")
    )
