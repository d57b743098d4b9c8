"""Stream probe: an open loop over the streaming form of the flagship
pipeline, run inside the traced phase of ``backfill``.

It writes small transcript parquet files. A generator thread
releases them by atomic rename, on a fixed schedule that does not slow
when the query does, into the directory a streaming
``run_pipeline(...).routed`` reads; ``routed_foreach_batch_writer``
writes each micro-batch. A file's latency runs from its due time to the
end of the micro-batch that read it (found from the cumulative
``numInputRows`` of the query's progress). The same parse, route and
sink code as ``backfill`` runs in small batches, where fixed per-batch
costs dominate: planning, file listing and the offset/commit log.

The probe reports the streaming layer's per-layer metrics, latency
included; it is not a workload of its own, because its latency spreads
too widely between runs for an end-to-end bound (see README.md).
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from opentelemetry_collector_contrib_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts
from opentelemetry_collector_contrib_spark.streaming.pipeline import routed_foreach_batch_writer

from . import harness as H
from . import latency as L
from . import oracle

# 100 timed files -> the tail percentile is exactly p90 (ten beyond it)
N_FILES = 100
# warm-up: file 0 alone (the cold first batch), then the rest at once
N_WARM = 10
N_CONVS = 1_650  # about 300 turns per file
DRAIN_TIMEOUT_S = 90.0
# the schedule spreads the timed files evenly over this many seconds
PROBE_SECONDS = 10

LAYERS = {
    "stream.latency_p50_s", "stream.latency_p90_s", "stream.sink_files",
    "stream.batches", "stream.batch_s_p50", "stream.plan_s_p50",
    "stream.add_batch_s_p50", "stream.commit_s_p50", "stream.rows_per_batch_p50",
    "stream.backlog_files_max", "stream.generator_lag_s_max",
}

COMMIT_KEYS = ("walCommit", "commitOffsets", "commitBatch")
TIMED = range(N_WARM, N_WARM + N_FILES)


class StreamProbe:
    def __init__(self, run: H.Run) -> None:
        self.run = run
        base = run.path("stream")
        self.staging = os.path.join(base, "staging")
        self.incoming = os.path.join(base, "incoming")
        self.out = os.path.join(base, "out")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _write_files(self) -> None:
        """Equal-sized files, round-robin from one generated table, in
        the staging directory; the first N_WARM are warm-up files."""
        spark = self.run.spark
        raw = self.run.path("stream", "raw")
        n = N_WARM + N_FILES
        generate_transcripts(spark, n_convs=N_CONVS, seed=self.run.seed).repartition(
            n
        ).write.mode("overwrite").parquet(raw)
        parts = sorted(glob.glob(os.path.join(raw, "part-*.parquet")))
        if len(parts) != n:
            raise RuntimeError(f"stream fixture has {len(parts)} files, want {n}")
        for d in (self.staging, self.incoming, self.out):
            os.makedirs(d)
        self.staged = []
        for i, p in enumerate(parts):
            dst = os.path.join(self.staging, f"turns-{i:04d}.parquet")
            os.rename(p, dst)
            self.staged.append(dst)
        self.file_rows = [pq.ParquetFile(f).metadata.num_rows for f in self.staged]
        self.schema = spark.read.parquet(self.staged[0]).schema
        con = H.duck(self.run)
        self.expect_routes = oracle.transcript_routes(con, os.path.join(self.staging, "*.parquet"))
        con.close()

    def _start_query(self) -> None:
        """Start the query over the empty incoming directory and drain
        the warm-up files through it: the cold first batch alone, then
        one more."""
        spark = self.run.spark
        stream = spark.readStream.schema(self.schema).parquet(self.incoming)
        routed = run_pipeline(spark, stream).routed
        self.query = (
            routed.writeStream.foreachBatch(routed_foreach_batch_writer(self.out))
            .option("checkpointLocation", self.checkpoint)
            .start()
        )
        self._release(0)
        self._wait_rows(self.file_rows[0])
        for k in range(1, N_WARM):
            self._release(k)
        self._wait_rows(sum(self.file_rows[:N_WARM]))

    def _release(self, k: int) -> None:
        os.rename(self.staged[k], os.path.join(self.incoming, os.path.basename(self.staged[k])))

    def _rows_done(self) -> int:
        return sum(int(p["numInputRows"]) for p in self.query.recentProgress)

    def _wait_rows(self, rows: int) -> None:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while self._rows_done() < rows:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"query read {self._rows_done()} of {rows} rows")
            time.sleep(0.02)

    def _schedule(self) -> dict[str, object]:
        """Release the timed files at fixed times, drain, stop the query
        and attribute every file to its micro-batch."""
        interval = PROBE_SECONDS / N_FILES
        n = N_WARM + N_FILES
        due: list[float | None] = [None] * n
        released: list[float | None] = [None] * n
        t0 = time.time() + 0.1
        for k in TIMED:
            due[k] = t0 + (k - N_WARM) * interval

        def generator() -> None:
            for k in TIMED:
                wait = due[k] - time.time()
                if wait > 0:
                    time.sleep(wait)
                self._release(k)
                released[k] = time.time()

        gen = threading.Thread(target=generator, name="perfbench-generator")
        gen.start()
        gen.join()
        try:
            self._wait_rows(sum(self.file_rows))
        finally:
            self.query.stop()
        progress = [dict(p) for p in self.query.recentProgress]
        return {"due": due, "released": released, "progress": progress}

    def _gate(self, sched: dict[str, object]) -> list[float]:
        """Rows written == rows released, per-route counts == the
        oracle over the same files, and every timed file attributed to
        a micro-batch. Returns the latencies of the timed files."""
        self.attempted += N_FILES
        try:
            lat = L.file_latencies(self.file_rows, sched["due"], sched["progress"])
        except L.AttributionError as exc:
            self.failed += N_FILES
            self.errors.append(f"attribution: {exc}")
            return []
        timed_lat = [lat[k] for k in TIMED if lat[k] is not None]
        missing = N_FILES - len(timed_lat)
        problems: list[str] = []
        try:
            con = H.duck(self.run)
            got = oracle.route_counts(con, os.path.join(self.out, "routed_stream", "**", "*.parquet"))
            con.close()
            if sum(got.values()) != sum(self.file_rows):
                problems.append(f"wrote {sum(got.values())} rows, released {sum(self.file_rows)}")
            if got != self.expect_routes:
                problems.append(f"routes {got} != oracle {self.expect_routes}")
        except Exception as exc:  # noqa: BLE001 - a gate that raises is a failed gate
            problems.append(f"gate raised {type(exc).__name__}: {exc}")
        if problems:
            self.failed += N_FILES
            self.errors.extend(problems)
        else:
            self.failed += missing
            if missing:
                self.errors.append(f"{missing} files never attributed to a batch")
        return timed_lat

    def run_probe(self, tracer: H.Tracer) -> dict[str, float]:
        """Write the files, warm the query up, run the schedule and
        derive the stream layer's metrics from the query progress."""
        with tracer.span("stream.setup", self.run.spark):
            self._write_files()
            self._start_query()
        with tracer.span("stream.schedule"):
            sched = self._schedule()
        lat = self._gate(sched)
        if not lat:
            raise RuntimeError("no file latency could be attributed: " + "; ".join(self.errors))
        progress = sorted(sched["progress"], key=lambda p: p["batchId"])
        batch_of = L.attribute_files(self.file_rows, [int(p["numInputRows"]) for p in progress])
        first_timed = batch_of[N_WARM]
        batches = [p for j, p in enumerate(progress) if j >= first_timed and int(p["numInputRows"]) > 0]
        dur = [p["durationMs"] for p in batches]

        def p50(values: list[float]) -> float:
            return statistics.median(values) if values else 0.0

        backlog = 0
        for j, p in enumerate(progress):
            start = L.progress_end_time(p["timestamp"], 0)
            waiting = sum(
                1 for k in TIMED
                if sched["released"][k] <= start and (batch_of[k] is None or batch_of[k] >= j)
            )
            backlog = max(backlog, waiting)
        files, _ = H.parquet_stats(os.path.join(self.out, "routed_stream"))
        # with all N_FILES = 100 files attributed this is exactly p90
        _, tail = L.tail_percentile(lat)
        return {
            "stream.latency_p50_s": L.median(lat),
            "stream.latency_p90_s": tail,
            "stream.sink_files": files,
            "stream.batches": len(batches),
            "stream.batch_s_p50": p50([d.get("triggerExecution", 0) / 1000 for d in dur]),
            "stream.plan_s_p50": p50([d.get("queryPlanning", 0) / 1000 for d in dur]),
            "stream.add_batch_s_p50": p50([d.get("addBatch", 0) / 1000 for d in dur]),
            "stream.commit_s_p50": p50([sum(d.get(k, 0) for k in COMMIT_KEYS) / 1000 for d in dur]),
            "stream.rows_per_batch_p50": p50([int(p["numInputRows"]) for p in batches]),
            "stream.backlog_files_max": backlog,
            "stream.generator_lag_s_max": max(
                sched["released"][k] - sched["due"][k] for k in TIMED
            ),
        }
