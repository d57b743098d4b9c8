"""Structured Streaming variants of the pipeline operators.

The reference is a push-based streaming engine; its batch semantics
are the special case. Here it's inverted: the batch operators
(operators/*) are primary and these wrappers re-express the stateful
ones on Structured Streaming:

- windowed counts with watermark  ≙ countconnector's periodic flush
  (``connector/countconnector/counter.go:116-127``)
- streaming dedup within watermark ≙ logdedupprocessor's interval
  aggregator (``processor/logdedupprocessor/processor.go:85-160``)
- routed foreachBatch fan-out      ≙ routingconnector + fileexporter
- stateful session recombine       ≙ stanza recombine's
  is_first/force_flush state machine
  (``transformer/recombine/transformer.go:101-195``) via
  ``applyInPandasWithState``

Scale posture: state stores shard by the groupBy key (conv_id) —
identical key layout to the batch conv_id-keyed operators; watermarks bound
state size; ``availableNow`` triggers make every streaming query
testable in batch-ish mode (and are how a backfill would run).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_windowed_counts(
    stream: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """countconnector in streaming form: tumbling-window counts with a
    watermark so late data past ``watermark`` is dropped and state is
    evicted (the reference keeps a per-interval counter map and flushes
    on a ticker — the watermark is the declarative version)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n")
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str],
    watermark: str = "2 minutes",
) -> DataFrame:
    """logdedup streaming form: keep the first record per key within
    the watermark horizon (dropDuplicates maintains keyed state and
    evicts it at the watermark — the interval flush analog)."""
    return stream.withWatermark("ts", watermark).dropDuplicates(key_cols)


def routed_foreach_batch_writer(root: str):
    """routingconnector fan-out as a foreachBatch sink: each microbatch
    is routed once (when() chain computed upstream) and written with
    partitionBy(route) — one job per microbatch, per-sink dirs, exactly
    the fileexporter group_by layout."""

    def write(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.write.mode("append")
            .partitionBy("route")
            .parquet(f"{root}/routed_stream")
        )

    return write


# ---------------------------------------------------------------------------
# stateful session recombine (applyInPandasWithState)
# ---------------------------------------------------------------------------


RECOMBINE_OUTPUT_SCHEMA = (
    "conv_id string, session_start long, text string, n_turns int, closed boolean"
)
RECOMBINE_STATE_SCHEMA = "start long, parts array<string>, n int"


def _recombine_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    timeout_ms: int = 30_000,
    max_batch_size: int = 1000,
) -> Iterator[pd.DataFrame]:
    """Per-conv state machine: accumulate turn texts; a row with
    is_first=true closes the open session and starts a new one; a
    processing-time timeout force-flushes (force_flush_timeout
    semantics, recombine config.go:40-58).

    ``max_batch_size`` (reference default 1000, config.go:40) bounds
    per-key state the way the reference's max_sources/max_batch_size
    pair bounds its in-memory batch map: a session that accumulates
    the cap without closing is force-flushed (closed=false) so one
    never-closing conversation cannot grow executor state without
    bound — the streaming analog of the batch operator's cap."""
    (conv_id,) = key
    if state.hasTimedOut:
        start, parts, n = state.get
        state.remove()
        if n == 0:
            # a max_batch_size cap flush can leave the state empty
            # (row count hit an exact multiple of the cap); the timer
            # still fires — emit nothing rather than an empty session
            return
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "session_start": [start],
                "text": ["\n".join(parts)],
                "n_turns": [n],
                "closed": [False],
            }
        )
        return

    out_rows: list[dict] = []
    if state.exists:
        start, parts, n = state.get
        parts = list(parts)
    else:
        start, parts, n = None, [], 0

    rows: list[tuple[int, bool, str]] = []
    for pdf in pdf_iter:
        # zip over numpy columns, not iterrows: the state machine is
        # sequential per group but per-row extraction cost is the hot
        # loop at millions of groups/microbatch (~10x cheaper)
        rows.extend(
            zip(
                pdf["turn_idx"].astype(int),
                pdf["is_first"].astype(bool),
                pdf["text"].astype(str),
            )
        )
    rows.sort(key=lambda t: t[0])

    for turn_idx, is_first, text in rows:
        if is_first and parts:
            out_rows.append(
                {
                    "conv_id": conv_id,
                    "session_start": start,
                    "text": "\n".join(parts),
                    "n_turns": n,
                    "closed": True,
                }
            )
            parts, n, start = [], 0, None
        if start is None:
            start = turn_idx
        parts.append(text)
        n += 1
        if n >= max_batch_size:
            # size-cap force flush (transformer.go flushes the batch
            # once it reaches maxBatchSize); closed=false marks it as
            # a cap flush, not a predicate close
            out_rows.append(
                {
                    "conv_id": conv_id,
                    "session_start": start,
                    "text": "\n".join(parts),
                    "n_turns": n,
                    "closed": False,
                }
            )
            parts, n, start = [], 0, None

    state.update((start if start is not None else 0, parts, n))
    state.setTimeoutDuration(timeout_ms)
    if out_rows:
        yield pd.DataFrame(out_rows)


def stream_recombine(
    stream: DataFrame, timeout_ms: int = 30_000, max_batch_size: int = 1000
) -> DataFrame:
    """Stateful multiline/session reassembly over a transcript stream.

    Input needs (conv_id, turn_idx, text, is_first). Emits one row per
    closed session; open sessions flush on processing-time timeout
    (closed=false) — ``timeout_ms`` is the force_flush_timeout config
    knob (recombine config.go:40-58; large values mean "only emit
    closed sessions", the deterministic contract a batch oracle can
    check).  ``max_batch_size`` (default 1000 = the reference's
    config.go:40 default) bounds per-key buffered state; see
    ``_recombine_fn``.

    ``max_sources`` (config.go:42, default 1000) has no per-key
    counterpart BY CONSTRUCTION: the reference caps how many source
    batches one collector process tracks in its in-memory map and
    evicts the oldest past the cap; here the "map" is the state store,
    which shards by key across executors and spills to disk, so total
    key count never threatens one process's heap. The pressure that
    knob relieves is covered by the two bounds that do exist per key:
    the processing-time timeout (evicts idle sources — the closest
    analog of oldest-eviction) and max_batch_size (bounds each
    source's buffer).
    """

    def fn(key, pdf_iter, state):
        yield from _recombine_fn(
            key, pdf_iter, state, timeout_ms=timeout_ms,
            max_batch_size=max_batch_size,
        )

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=RECOMBINE_OUTPUT_SCHEMA,
            stateStructType=RECOMBINE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_alert_dedup(
    alerts: DataFrame,
    rule_name: str,
    label_cols: list[str],
    ts_col: str = "window_start",
    dedup_window: str = "10 minutes",
) -> DataFrame:
    """Streaming alert dedup (alertsgen dedup.Deduper, factory.go:123,
    :188): one alert per fingerprint within the dedup window. The
    fingerprint is the stable md5 of (rule, FingerprintLabels) —
    ``operators.aggregate.alert_fingerprint``.

    dropDuplicatesWithinWatermark is load-bearing: a plain
    dropDuplicates(["fingerprint"]) never evicts state (eviction only
    applies when the event-time column is among the dedup keys), which
    would both grow state forever AND suppress a legitimate re-alert
    hours later. WithinWatermark keys expire after the delay — the
    Deduper's expiring map exactly."""
    from ..operators.aggregate import alert_fingerprint

    withfp = alerts.withColumn(
        "fingerprint", alert_fingerprint(alerts, rule_name, label_cols)
    )
    return withfp.withWatermark(
        ts_col, dedup_window
    ).dropDuplicatesWithinWatermark(["fingerprint"])


def stream_signal_to_metrics(
    stream: DataFrame,
    cfg,
    ts_col: str = "time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """signaltometrics in streaming form: the same MetricInfo config
    (OTTL conditions/value, attributes) aggregated per tumbling window
    with a watermark — the reference aggregates per Consume* call;
    a stream's natural batch is the window.

    All four MetricInfo types: sum, histogram, gauge (last value per
    window, 'last' resolved by ``cfg.order_col`` via ``max_by`` — an
    O(1)-state streaming aggregate, no per-window sort), and
    exponential_histogram (the same base-2 bucket expression batch
    uses, ``operators.aggregate.exponential_histogram``).
    """
    from ..operators.signaltometrics import _prepared

    df, keys = _prepared(stream, cfg)
    win = F.window(F.col(ts_col), window).alias("w")
    wm = df.withWatermark(ts_col, watermark)
    if cfg.metric_type == "sum":
        out = wm.groupBy(win, *keys).agg(F.sum("__value").alias(cfg.name))
    elif cfg.metric_type == "histogram":
        from ..operators.aggregate import bucket_index

        out = (
            wm.withColumn("bucket_idx", bucket_index(F.col("__value"), cfg.buckets))
            .groupBy(win, *keys, F.col("bucket_idx"))
            .agg(F.count(F.lit(1)).alias("bucket_count"))
        )
    elif cfg.metric_type == "gauge":
        out = wm.groupBy(win, *keys).agg(
            F.max_by(F.col("__value"), F.col(cfg.order_col)).alias(cfg.name)
        )
    elif cfg.metric_type == "exponential_histogram":
        v = F.col("__value")
        idx = (
            F.ceil(F.round(F.log(2.0, v) * F.lit(float(2 ** cfg.scale)), 9))
            - 1
        )
        out = (
            wm.filter(v > 0)
            .withColumn("bucket_idx", idx.cast("int"))
            .groupBy(win, *keys, F.col("bucket_idx"))
            .agg(F.count(F.lit(1)).alias("bucket_count"))
        )
    else:
        raise ValueError(
            f"unknown streaming signaltometrics type {cfg.metric_type!r}"
        )
    from ..operators.signaltometrics import _renamed

    out = _renamed(out, cfg, keys)
    return out.select(F.col("w.start").alias("window_start"), "*").drop("w")


# ---------------------------------------------------------------------------
# streaming SFT pair extraction: the stateful twin of
# operators/turns.py::sft_pairs — per-conversation rolling context
# buffer, (context, response) emitted the moment a response-role turn
# arrives. NoTimeout state (nothing to force-flush: pairs emit
# inline), so availableNow terminates normally.
# ---------------------------------------------------------------------------

SFT_OUTPUT_SCHEMA = (
    "conv_id string, turn_idx long, context string, response string"
)
SFT_STATE_SCHEMA = "idxs array<long>, lines array<string>"


def make_sft_fn(n: int = 3):
    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            idxs, lines = state.get
            buf = list(zip(idxs, lines))
        else:
            buf = []

        rows: list[tuple[int, str, str]] = []
        for pdf in pdf_iter:
            rows.extend(
                zip(
                    pdf["turn_idx"].astype(int),
                    pdf["role"].astype(str),
                    pdf["text"].astype(str),
                )
            )
        rows.sort(key=lambda t: t[0])

        out: list[dict] = []
        for turn_idx, role, text in rows:
            if role == "assistant":
                ctx = "\n".join(line for _, line in buf[-n:])
                if ctx:
                    out.append(
                        {
                            "conv_id": conv_id,
                            "turn_idx": turn_idx,
                            "context": ctx,
                            "response": text,
                        }
                    )
            buf.append((turn_idx, f"{role}: {text}"))
            if len(buf) > n:
                buf = buf[-n:]

        state.update(([i for i, _ in buf], [l for _, l in buf]))
        if out:
            yield pd.DataFrame(out)

    return fn


def stream_sft_pairs(
    stream: DataFrame, n: int = 3
) -> DataFrame:
    """(context, response) SFT pairs over a live transcript stream.
    Input needs (conv_id, turn_idx, role, text); per-conv state is the
    last ``n`` rendered turns — O(n) per conversation, the same bound
    the batch window variant carries per row."""
    return stream.groupBy("conv_id").applyInPandasWithState(
        make_sft_fn(n),
        outputStructType=SFT_OUTPUT_SCHEMA,
        stateStructType=SFT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming cumulative->delta: the stateful twin of
# operators/aggregate.py::cumulative_to_delta
# (cumulativetodeltaprocessor/internal/tracking/tracker.go:153-158 —
# the tracker keeps the previous point per stream identity and emits
# value - prev; the first point has no reference and emits NULL).
# Per-key state is ONE (ts, id, value) triple — O(1) per live series,
# the same bound the Go tracker's map carries. NoTimeout: deltas emit
# inline, so availableNow terminates normally. Cross-batch contract:
# rows within a batch are re-sorted by (ts, id); across batches the
# stream must be per-key in-order (true for a replayed/appended log;
# the Go processor assumes the same monotonic stream identity).
# ---------------------------------------------------------------------------

C2D_OUTPUT_SCHEMA = "event_id long, value_delta double"
C2D_STATE_SCHEMA = "last_ts long, last_eid long, last_val double"


def make_c2d_fn():
    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_ts = last_eid = last_val = None
        if state.exists:
            last_ts, last_eid, last_val = state.get

        rows: list[tuple[int, int, float]] = []
        for pdf in pdf_iter:
            rows.extend(
                zip(
                    pdf["ts"].astype("int64"),
                    pdf["event_id"].astype(int),
                    pdf["value"].astype(float),
                )
            )
        if not rows:
            return
        rows.sort()

        out = []
        for ts, eid, val in rows:
            if last_ts is not None and (ts, eid) < (last_ts, last_eid):
                # late arrival from an earlier batch: no valid previous
                # point exists for it (the Go tracker keys on the
                # stream's monotonic identity and would mis-pair it
                # too) — emit NULL and do NOT move the state backwards
                out.append({"event_id": eid, "value_delta": None})
                continue
            out.append(
                {
                    "event_id": eid,
                    "value_delta": None if last_val is None else val - last_val,
                }
            )
            last_ts, last_eid, last_val = ts, eid, val
        state.update((int(last_ts), int(last_eid), float(last_val)))
        yield pd.DataFrame(out)

    return fn


def stream_cumulative_to_delta(
    stream: DataFrame, stream_cols: list[str]
) -> DataFrame:
    """value - previous value per stream identity, on a live stream.
    Input needs (ts, event_id, value) plus the identity columns."""
    return stream.groupBy(*stream_cols).applyInPandasWithState(
        make_c2d_fn(),
        outputStructType=C2D_OUTPUT_SCHEMA,
        stateStructType=C2D_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_spanmetrics(stream: DataFrame) -> DataFrame:
    """spanmetricsconnector live: per (dim, tumbling window) RED
    metrics — call count, explicit histogram bucket counts, mean
    duration (connector/spanmetricsconnector/connector.go:249-272;
    the reference accumulates per-key histograms and flushes on a
    ticker — watermarked windowed aggregation is the declarative
    twin). One streaming state row per (dim, window); bucket counts
    are conditional counts inside the SAME aggregate, so the state
    stays O(dims x windows), never O(spans)."""
    buckets = (25.0, 50.0)
    v = F.col("value")
    aggs = [F.count(F.lit(1)).alias("calls")]
    lo = None
    for b in buckets:
        cond = v <= F.lit(b) if lo is None else (v > F.lit(lo)) & (v <= F.lit(b))
        aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"bucket_le_{int(b)}"))
        lo = b
    aggs.append(F.count(F.when(v > F.lit(lo), F.lit(1))).alias("bucket_inf"))
    # mean via an EXACT decimal sum, not avg(double): double summation
    # reorders under parallel/streaming aggregation, and with fixed-
    # precision inputs the mean lands EXACTLY on round-half boundaries
    # where engines' tie rules differ (HALF_UP vs half-even — observed
    # at sf0.1). The decimal sum is order-independent and bit-equal
    # everywhere, and the final quotient is emitted UNROUNDED: one
    # IEEE division of identical operands needs no tolerance.
    aggs.append(F.sum(v.cast("decimal(18,6)")).alias("__sum_dec"))
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "event_type", "calls",
                *[f"bucket_le_{int(b)}" for b in buckets], "bucket_inf",
                (F.col("__sum_dec").cast("double") / F.col("calls"))
                .alias("avg_duration"))
    )


# ---------------------------------------------------------------------------
# streaming groupbytrace: buffer spans per trace for wait_duration,
# release the whole trace at once
# (processor/groupbytraceprocessor/processor.go:27-78 — the event
# machine buffers spans by trace id and fires onTraceReleased after
# WaitDuration; here the buffered trace is the group state and the
# processing-time timeout is the release timer)
# ---------------------------------------------------------------------------

GBT_OUTPUT_SCHEMA = "user_id long, n_events int, trace_sig string"
GBT_STATE_SCHEMA = "ts array<long>, eid array<long>, etype array<string>"


def _group_by_trace_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    wait_ms: int,
) -> Iterator[pd.DataFrame]:
    import hashlib

    (user_id,) = key
    if state.hasTimedOut:
        ts, eid, etype = state.get
        state.remove()
        order = sorted(range(len(eid)), key=lambda i: (ts[i], eid[i]))
        sig = hashlib.md5(
            "|".join(etype[i] for i in order).encode()
        ).hexdigest()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [len(eid)],
                "trace_sig": [sig],
            }
        )
        return

    if state.exists:
        ts, eid, etype = (list(x) for x in state.get)
    else:
        ts, eid, etype = [], [], []
    for pdf in pdf_iter:
        ts.extend(int(v.value) for v in pdf["ts"])
        eid.extend(int(v) for v in pdf["event_id"])
        etype.extend(str(v) for v in pdf["event_type"])
    state.update((ts, eid, etype))
    state.setTimeoutDuration(wait_ms)


def stream_group_by_trace(stream: DataFrame, wait_ms: int = 10_000) -> DataFrame:
    """Streaming groupbytrace: spans buffer in per-trace state and the
    WHOLE trace releases after ``wait_ms`` with no decision made
    earlier (WaitDuration, groupbytraceprocessor/config.go) — emitted
    here as the trace roll-up row the batch ``group_by_trace`` oracle
    checks (count + order-stable md5 signature over event types).

    The event keys on user_id (the transcript surface's trace id).
    State is O(spans-per-trace) per key, released at timeout — the
    reference's ringBufferedTraces eviction analog is the timeout
    itself plus recombine-style caps upstream.
    """

    def fn(key, pdf_iter, state):
        yield from _group_by_trace_fn(key, pdf_iter, state, wait_ms)

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=GBT_OUTPUT_SCHEMA,
        stateStructType=GBT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# streaming tail sampler: buffer per-trace for decision_wait, decide
# once over the complete buffered trace, release sampled spans
# (processor/tailsamplingprocessor/processor.go:37-59 — DecisionWait
# ticker; policies see the full buffered trace)
# ---------------------------------------------------------------------------

TAIL_OUTPUT_SCHEMA = "event_id long, user_id long, event_type string"
TAIL_STATE_SCHEMA = (
    "eid array<long>, etype array<string>, value array<double>"
)


def _tail_sampler_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    wait_ms: int,
) -> Iterator[pd.DataFrame]:
    import hashlib

    (user_id,) = key
    if state.hasTimedOut:
        eid, etype, value = state.get
        state.remove()
        # composite decision over the COMPLETE buffered trace — the
        # same policy set as the batch tail_policies oracle:
        # (string_attribute[error] AND numeric_attribute value in
        # [300, 1e9]) OR md5-consistent 25% probabilistic
        has_error = any(t == "error" for t in etype)
        has_hot = any(300.0 <= v <= 1e9 for v in value)
        prob25 = hashlib.md5(str(user_id).encode()).hexdigest()[0] >= "c"
        if (has_error and has_hot) or prob25:
            yield pd.DataFrame(
                {
                    "event_id": list(eid),
                    "user_id": [user_id] * len(eid),
                    "event_type": list(etype),
                }
            )
        return

    if state.exists:
        eid, etype, value = (list(x) for x in state.get)
    else:
        eid, etype, value = [], [], []
    for pdf in pdf_iter:
        eid.extend(int(v) for v in pdf["event_id"])
        etype.extend(str(v) for v in pdf["event_type"])
        value.extend(float(v) for v in pdf["value"])
    state.update((eid, etype, value))
    state.setTimeoutDuration(wait_ms)


def stream_tail_sampler(stream: DataFrame, wait_ms: int = 10_000) -> DataFrame:
    """Streaming tail sampling: spans buffer per trace until the
    ``decision_wait`` timer fires, THEN the policy set evaluates over
    the complete trace and sampled traces release all their spans —
    the buffering-window semantics the batch ``tail_sampler`` cannot
    express (it sees the whole dataset by construction).

    State per key is the buffered trace (ids, types, values); decided
    traces drop their state entirely. Keyed on user_id like the batch
    tail_policies query so the two grade against the same oracle.
    """

    def fn(key, pdf_iter, state):
        yield from _tail_sampler_fn(key, pdf_iter, state, wait_ms)

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=TAIL_OUTPUT_SCHEMA,
        stateStructType=TAIL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
