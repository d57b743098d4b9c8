"""spark-submit entry point: run the transcript log pipeline.

Usage:
    spark-submit --py-files <zip> jobs/pipeline.py \
        --convs 10000 --out /tmp/pipeline-out [--input <parquet-dir>] \
        [--poll-days N] [--resume] [--sink noop]

Reads the transcript table (a parquet path with the input_hint schema,
or the deterministic synthetic generator when --input is omitted),
runs parse -> enrich -> route -> aggregate, writes per-sink partitioned
parquet + count metrics + per-partition lineage, prints a one-line JSON
summary (counts per sink, seconds per phase and the number of Spark
jobs the run took).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.plans.pipeline import (
    PipelineOutput,
    observe_routes,
    run_pipeline,
    write_pipeline,
)
from opentelemetry_collector_contrib_spark.runtime.lineage import LineageLog
from opentelemetry_collector_contrib_spark.session import get_spark
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir with transcript schema; default: synthesize")
    ap.add_argument("--convs", type=int, default=5000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument(
        "--resume", action="store_true",
        help="skip ts-day partitions already committed in _lineage.jsonl",
    )
    ap.add_argument(
        "--poll-days", type=int, default=0,
        help="write in poll cycles of N ts-days each: the filelog "
        "poll-cycle analog (reference checkpoints per-file offsets "
        "every poll, pkg/stanza/fileconsumer/file.go:144-151) — each "
        "cycle commits its days to the lineage manifest, so a killed "
        "driver loses at most the in-flight cycle and --resume "
        "reprocesses only pending days; 0 = single write job",
    )
    ap.add_argument(
        "--sink", choices=["parquet", "noop"], default="parquet",
        help="noop: execute the full pipeline but skip the disk sink "
        "(isolates compute scaling from single-box disk/memory bandwidth)",
    )
    args = ap.parse_args(argv)

    spark = get_spark(app_name="transcript-pipeline", master=args.master)
    # every Spark job of the run carries one job group, so the summary
    # reports how many jobs the run took: its fixed cost, in every run
    sc = spark.sparkContext
    group = f"transcript-pipeline-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"transcript pipeline {args.run_id}")
    t0 = time.time()
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = generate_transcripts(spark, n_convs=args.convs)

    lineage = LineageLog(args.out, run_id=args.run_id)
    out = run_pipeline(spark, transcripts)
    t_plan = time.time()
    if args.poll_days > 0:
        # One tiny distinct-agg to enumerate days (bounded by the
        # calendar, not the data); on a ts-day-partitioned Iceberg
        # input each cycle's day filter partition-prunes the scan.
        days = [
            str(r[0])
            for r in out.routed.select("ts_day").distinct().orderBy("ts_day").collect()
        ]
        cycles = [
            out.routed.filter(F.col("ts_day").cast("string").isin(days[i : i + args.poll_days]))
            for i in range(0, len(days), args.poll_days)
        ]
    else:
        cycles = [out.routed]  # single shot: one cycle over every day
    counts: dict[str, int] = {}
    for routed in cycles:
        if args.sink == "noop":
            observed, seen = observe_routes(routed)
            observed.write.format("noop").mode("overwrite").save()
            c = seen.per_route()
        else:
            # each cycle commits its days to the lineage manifest, and
            # its read-back refreshes the metric tables with them
            c = write_pipeline(PipelineOutput(routed), args.out, lineage=lineage, resume=args.resume)
        for k, v in c.items():
            counts[k] = counts.get(k, 0) + v
    t_write = time.time()
    spark_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)

    elapsed = time.time() - t0
    phases = {
        "plan": round(t_plan - t0, 2),
        "write": round(t_write - t_plan, 2),
    }
    total = sum(counts.values())
    print(
        json.dumps(
            {
                "turns": total,
                "per_sink": counts,
                "sec": round(elapsed, 2),
                "turns_per_sec": round(total / elapsed, 1),
                "phases": phases,
                "spark_jobs": spark_jobs,
                "out": args.out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
