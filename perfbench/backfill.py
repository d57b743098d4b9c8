"""``backfill``: the flagship job as ``jobs/pipeline.py`` runs it.

``run_pipeline`` -> ``write_pipeline`` with a ``LineageLog`` and the
count-metric tables, over a transcript parquet fixture written during
set-up. Time goes to the salted shuffle, the zstd partitioned sink
write and the fused parse/enrich/route stage; there are no window
operators and no per-micro-batch costs.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.pipeline import (
    aggregate_counts,
    enrich_turns,
    parse_turns,
    route_turns,
    run_pipeline,
    write_pipeline,
)
from opentelemetry_collector_contrib_spark.runtime.lineage import LineageLog
from opentelemetry_collector_contrib_spark.runtime.sinks import sink_path, write_sink
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts

from . import harness as H
from . import oracle
from .stream import LAYERS as STREAM_LAYERS
from .stream import StreamProbe

# fixture: the first TURNS turns of N_CONVS conversations with a hot
# slice (0.1% of conversations x100); N_CONVS leaves TURNS well covered
N_CONVS = 2_600
TURNS = 50_000
HOT_FRAC = 0.001
HOT_MULT = 100
# the JIT keeps speeding jobs up for a while after the cold first one
WARMUP_JOBS = 2

LAYERS = {
    "scan.busy_s", "parse.busy_s", "parse.logline_ratio", "parse.json_ok_ratio",
    "enrich.busy_s", "enrich.tool_hit_ratio", "route.busy_s", "route.catchall_ratio",
    "sink.busy_s", "sink.shuffle_bytes", "sink.spill_bytes", "sink.files",
    "sink.rows_per_file", "sink.task_skew", "sink.bytes", "lineage.busy_s",
    "lineage.records", "aggregate.count_busy_s", "aggregate.shuffle_bytes",
    "aggregate.task_skew",
} | STREAM_LAYERS


class Backfill:
    def __init__(self, run: H.Run) -> None:
        self.run = run
        self.fixture = run.path("fixture")
        self.out = run.path("sink")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # --- set-up ---------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Fixture, oracle and warm-up jobs; returns each part's seconds."""
        spark = self.run.spark
        fixture_s, _ = H.timed(
            lambda: H.first_turns(
                generate_transcripts(
                    spark, n_convs=N_CONVS, hot_frac=HOT_FRAC, hot_mult=HOT_MULT, seed=self.run.seed
                ),
                TURNS,
            ).write.mode("overwrite").parquet(self.fixture)
        )
        t0 = time.perf_counter()
        con = H.duck(self.run)
        glob = os.path.join(self.fixture, "*.parquet")
        self.expect_routes = oracle.transcript_routes(con, glob)
        self.expect_rows, self.expect_sum = oracle.text_checksum(con, glob)
        con.close()
        oracle_s = time.perf_counter() - t0
        warmup_s = sum(self.iteration()[0] for _ in range(WARMUP_JOBS))  # not gated
        return {"fixture_s": fixture_s, "oracle_s": oracle_s, "warmup_s": warmup_s}

    # --- one measured job -------------------------------------------------

    def iteration(self) -> tuple[float, dict[str, int]]:
        spark = self.run.spark
        H.clean_dir(self.out)
        dt, counts = H.timed(
            lambda: write_pipeline(
                run_pipeline(spark, spark.read.parquet(self.fixture)),
                self.out,
                lineage=LineageLog(self.out, run_id=f"seed-{self.run.seed}"),
            )
        )
        return dt, counts

    def gate(self, counts: dict[str, int]) -> None:
        """sent == received, per-route counts == the DuckDB oracle, the
        sink's (conv_id, turn_idx, text) checksum == the input's, and
        metric-table and lineage per-day totals == the input rows."""
        self.attempted += 1
        problems: list[str] = []
        try:
            if sum(counts.values()) != self.expect_rows:
                problems.append(f"sent {self.expect_rows} != received {sum(counts.values())}")
            if counts != self.expect_routes:
                problems.append(f"routes {counts} != oracle {self.expect_routes}")
            con = H.duck(self.run)
            routed = os.path.join(sink_path(self.out, "routed"), "**", "*.parquet")
            back = oracle.text_checksum(con, routed, hive=True)
            if back != (self.expect_rows, self.expect_sum):
                problems.append(f"sink checksum {back} != input {(self.expect_rows, self.expect_sum)}")
            if oracle.route_counts(con, routed) != self.expect_routes:
                problems.append("sink route partitions disagree with the oracle")
            metric = os.path.join(sink_path(self.out, "metric_turns_per_sink"), "*.parquet")
            total = con.execute(f"SELECT sum(turn_count) FROM read_parquet('{metric}')").fetchone()[0]
            con.close()
            if total != self.expect_rows:
                problems.append(f"metric table total {total} != {self.expect_rows}")
            day_rows = 0
            with open(os.path.join(self.out, "_lineage.jsonl")) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["stage"] == "sink_day" and rec["status"] == "completed":
                        day_rows += rec["rows"]
            if day_rows != self.expect_rows:
                problems.append(f"lineage per-day total {day_rows} != {self.expect_rows}")
        except Exception as exc:  # noqa: BLE001 - a gate that raises is a failed gate
            problems.append(f"gate raised {type(exc).__name__}: {exc}")
        if problems:
            self.failed += 1
            self.errors.extend(problems)

    # --- end-to-end ---------------------------------------------------------

    def measure(self) -> dict[str, object]:
        def one() -> float:
            dt, counts = self.iteration()
            self.gate(counts)
            return dt

        walls, cpus = H.measure_loop(self.run, one)
        return {"samples": walls, "cpu": cpus, "turns": self.expect_rows}

    # --- traced phase -------------------------------------------------------

    def traced(self, tracer: H.Tracer) -> tuple[float, dict[str, float]]:
        """Each plan prefix forced into the noop sink, then one traced
        end-to-end job, then the stream probe. A layer's busy time is
        its prefix's forced time minus the previous prefix's."""
        spark = self.run.spark

        def src():
            return spark.read.parquet(self.fixture)

        tool = F.col("role") == "tool"
        # the first jobs of a restarted context pay one-off costs (the
        # write path too); keep them out of the layer prefixes
        self.iteration()
        with tracer.span("layers"):
            for _ in range(H.PREFIX_REPEATS):
                # an Observation reports once: fresh ones every repeat
                obs_parse, obs_enrich, obs_route = (Observation(n) for n in ("parse", "enrich", "route"))
                with tracer.span("scan", spark):
                    H.force(src())
                with tracer.span("parse", spark):
                    H.force(
                        parse_turns(src()), obs_parse,
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(F.col("is_logline"), 1)).alias("loglines"),
                        F.count(F.when(tool, 1)).alias("tool"),
                        F.count(F.when(tool & F.col("tool_status").isNotNull(), 1)).alias("json_ok"),
                    )
                with tracer.span("enrich", spark):
                    H.force(
                        enrich_turns(parse_turns(src()), spark), obs_enrich,
                        F.count(F.when(F.col("tool").isNotNull(), 1)).alias("tool"),
                        F.count(F.when(F.col("tool_family").isNotNull(), 1)).alias("hit"),
                    )
                with tracer.span("route", spark):
                    H.force(
                        route_turns(enrich_turns(parse_turns(src()), spark)), obs_route,
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(F.col("route") == "catchall", 1)).alias("catchall"),
                    )
            H.clean_dir(self.out)
            with tracer.span("sink", spark):
                sink_counts = write_pipeline(run_pipeline(spark, src()), self.out, write_metrics=False)
            files, nbytes = H.parquet_stats(sink_path(self.out, "routed"))
            with tracer.span("aggregate.count", spark):
                back = spark.read.parquet(sink_path(self.out, "routed"))
                for name, agg in aggregate_counts(back).items():
                    write_sink(agg, sink_path(self.out, f"metric_{name}"))
            with tracer.span("lineage", spark):
                lineage = LineageLog(self.out, run_id=f"seed-{self.run.seed}")
                for r, n in sorted(sink_counts.items()):
                    lineage.record("write_sinks", r, n)
                lineage.record_counts("sink_day", spark.read.parquet(sink_path(self.out, "routed")), "ts_day")
            with open(lineage.path) as f:
                lineage_records = sum(1 for _ in f)
        with tracer.span("e2e", spark):
            dt, counts = self.iteration()
        self.gate(counts)
        probe = StreamProbe(self.run)
        stream_layers = probe.run_probe(tracer)
        self.attempted += probe.attempted
        self.failed += probe.failed
        self.errors.extend(probe.errors)

        p, e, r = obs_parse.get, obs_enrich.get, obs_route.get
        t = tracer.seconds
        layers = {
            "scan.busy_s": t("scan"),
            "parse.busy_s": t("parse") - t("scan"),
            "parse.logline_ratio": p["loglines"] / p["n"],
            "parse.json_ok_ratio": p["json_ok"] / p["tool"] if p["tool"] else 0.0,
            "enrich.busy_s": t("enrich") - t("parse"),
            "enrich.tool_hit_ratio": e["hit"] / e["tool"] if e["tool"] else 0.0,
            "route.busy_s": t("route") - t("enrich"),
            "route.catchall_ratio": r["catchall"] / r["n"],
            "sink.busy_s": t("sink") - t("route"),
            "sink.files": files,
            "sink.rows_per_file": self.expect_rows / files if files else 0.0,
            "sink.bytes": nbytes,
            "aggregate.count_busy_s": t("aggregate.count"),
            "lineage.busy_s": t("lineage"),
            "lineage.records": lineage_records,
            **stream_layers,
        }
        return dt, layers

    @staticmethod
    def from_event_log(groups: dict[str, H.GroupTasks]) -> dict[str, float]:
        sink = groups.get("sink", H.GroupTasks())
        agg = groups.get("aggregate.count", H.GroupTasks())
        return {
            "sink.shuffle_bytes": sink.shuffle_bytes,
            "sink.spill_bytes": sink.spill_bytes,
            "sink.task_skew": sink.task_skew(),
            "aggregate.shuffle_bytes": agg.shuffle_bytes,
            "aggregate.task_skew": agg.task_skew(),
        }

    # attributed self-times, for the unattributed share of the traced job
    SELF_TIMES = [
        "scan.busy_s", "parse.busy_s", "enrich.busy_s", "route.busy_s",
        "sink.busy_s", "aggregate.count_busy_s", "lineage.busy_s",
    ]
