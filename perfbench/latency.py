"""Pure helpers for latency samples: the tail-percentile rule and the
file -> micro-batch attribution of the ``stream`` workload.

Nothing here imports Spark, so the rules are unit-tested on their own
(``test_latency.py``).
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence
from datetime import datetime, timezone

# a tail percentile is reported only where this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def median(samples: Sequence[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def tail_percentile(samples: Sequence[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(percentile, value)`` by nearest rank: with ``n`` sorted
    samples the value at 0-based rank ``n - 11`` has exactly ten larger
    ranks after it, and it is the ``100 * (n - 10) / n`` percentile
    (n = 100 gives p90). With fewer than eleven samples no percentile
    has ten samples beyond it, and the maximum is returned as p100.
    """
    if not samples:
        raise ValueError("tail percentile of no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return 100.0, float(xs[-1])
    return 100.0 * (n - TAIL_MIN_BEYOND) / n, float(xs[n - TAIL_MIN_BEYOND - 1])


class AttributionError(ValueError):
    """Micro-batch row counts do not line up with file boundaries."""


def attribute_files(file_rows: Sequence[int], batch_rows: Sequence[int]) -> list[int | None]:
    """Map each file (in release order) to the micro-batch that read it.

    A file-source micro-batch takes every file present when it lists
    the directory, and files are released one at a time by atomic
    rename, so each batch reads a contiguous run of files in release
    order. File ``k`` therefore belongs to the first batch whose
    cumulative ``numInputRows`` reaches the cumulative row count of
    files ``0..k``. Every cumulative batch total must fall exactly on a
    file boundary; otherwise a batch read part of a file and
    :class:`AttributionError` is raised. Files past the last batch map
    to ``None`` (not yet processed).
    """
    if any(r <= 0 for r in file_rows):
        raise AttributionError("every file must hold at least one row")
    boundaries: dict[int, int] = {}
    total = 0
    for k, r in enumerate(file_rows):
        total += r
        boundaries[total] = k
    out: list[int | None] = [None] * len(file_rows)
    next_file = 0
    cum = 0
    for b, rows in enumerate(batch_rows):
        if rows < 0:
            raise AttributionError(f"batch {b} reports {rows} input rows")
        if rows == 0:
            continue
        cum += rows
        last = boundaries.get(cum)
        if last is None:
            raise AttributionError(
                f"batch {b} ends at cumulative row {cum}, which is not a file boundary"
            )
        for k in range(next_file, last + 1):
            out[k] = b
        next_file = last + 1
    return out


def progress_end_time(timestamp: str, trigger_ms: int) -> float:
    """Epoch seconds at which a micro-batch ended: its trigger start
    (``StreamingQueryProgress.timestamp``, ISO-8601 UTC) plus
    ``durationMs.triggerExecution``."""
    ts = timestamp.rstrip("Z")
    start = datetime.fromisoformat(ts).replace(tzinfo=timezone.utc).timestamp()
    return start + trigger_ms / 1000.0


def file_latencies(
    file_rows: Sequence[int],
    due: Sequence[float | None],
    progress: Sequence[dict],
) -> list[float | None]:
    """Latency of each file: from its due time to the end of the
    micro-batch that read it. ``progress`` holds the query's progress
    rows (``batchId``, ``numInputRows``, ``timestamp``,
    ``durationMs.triggerExecution``); ``due`` is ``None`` for files
    that are not timed (the warm-up file). Unprocessed files get
    ``None``."""
    rows = sorted(progress, key=lambda p: p["batchId"])
    batch_of = attribute_files(file_rows, [int(p["numInputRows"]) for p in rows])
    ends = [progress_end_time(p["timestamp"], int(p["durationMs"]["triggerExecution"])) for p in rows]
    out: list[float | None] = []
    for k, b in enumerate(batch_of):
        if b is None or due[k] is None:
            out.append(None)
        else:
            out.append(ends[b] - due[k])
    return out
