"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,sessions} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one Spark session on
``local[<cpus>]``; every temporary path sits in a fresh directory under
``.perfbench/work/`` that is removed at exit. Prints each metric on its
own line, then, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics
with ``--trace 1``). A traced run also writes its spans and per-layer
metrics to ``.perfbench/traces/<workload>-seed<N>-<run id>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "opentelemetry_collector_contrib_spark"
WORKLOADS = ("backfill", "sessions")
# per-layer metrics every traced run reports, whatever the workload
SPARK_LAYERS = {
    "spark.gc_s", "spark.failed_tasks", "spark.peak_rss_mb", "spark.job_cpu_s", "trace.overhead_frac",
}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workload(name: str, run):
    if name == "backfill":
        from perfbench import backfill as mod

        return mod, mod.Backfill(run)
    from perfbench import sessions as mod

    return mod, mod.Sessions(run)


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def bench(args) -> dict:
    from perfbench import harness as H
    from perfbench import latency as L

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}-{int(time.time())}"
    run = H.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        work=os.path.join(ROOT, ".perfbench", "work", run_id),
    )
    H.clean_dir(run.work)
    os.makedirs(run.work)
    H.pin_environment(run)
    try:
        t0 = time.perf_counter()
        H.start_spark(run)
        parts = {"session_s": time.perf_counter() - t0}
        mod, wl = _workload(args.workload, run)
        parts.update(wl.setup())
        setup_s = time.perf_counter() - t0
        ticks = H.cpu_ticks()
        measured = wl.measure()
        steal = H.steal_share(ticks, H.cpu_ticks())
        jobs = measured["samples"]
        result = {
            "e2e": {"setup_s": setup_s, "turns_per_s": measured["turns"] / L.median(jobs)},
            "turns": measured["turns"],
            "setup_parts": parts,
            "jobs": jobs,
            "job_cpu_s": L.median(measured["cpu"]),
            "steal": steal,
            "peak_rss_mb": H.peak_rss_mb(run.jvm_pid),
            "wl": wl,
            "layers": None,
        }
        if args.trace:
            result["layers"] = _traced(run, run_id, mod, wl, result)
        return result
    finally:
        H.stop_spark(run)
        H.shutdown_jvm()
        H.clean_dir(run.work)


def _traced(run, run_id: str, mod, wl, untraced: dict) -> dict:
    """Restart the session with the event log on, run the workload's
    traced phase, then read the event log once the session stops."""
    from perfbench import harness as H
    from perfbench import latency as L

    H.stop_spark(run)
    H.start_spark(run, event_log=True)
    tracer = H.Tracer(run_id)
    traced_e2e, layers = wl.traced(tracer)
    H.stop_spark(run)
    groups = H.read_event_log(run.path("eventlog"))
    layers.update(type(wl).from_event_log(groups))
    everything = H.merge_groups(groups, list(groups))
    layers["spark.gc_s"] = everything.gc_s
    layers["spark.failed_tasks"] = everything.failed
    untraced_job_s = L.median(untraced["jobs"])
    layers["spark.peak_rss_mb"] = untraced["peak_rss_mb"]
    layers["spark.job_cpu_s"] = untraced["job_cpu_s"]
    layers["trace.overhead_frac"] = traced_e2e / untraced_job_s - 1.0
    measured = set(layers)
    expected = set(mod.LAYERS) | SPARK_LAYERS
    if measured != expected:
        raise RuntimeError(f"traced layers {sorted(measured ^ expected)} differ from the declared set")
    attributed = sum(layers[k] for k in type(wl).SELF_TIMES)
    record = {
        "run_id": run_id,
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "cpus": run.cpus,
        "traced_e2e_s": traced_e2e,
        "untraced_e2e_s": untraced_job_s,
        "attributed_s": attributed,
        "unattributed_frac": 1.0 - attributed / traced_e2e if type(wl).SELF_TIMES else None,
        "layers": layers,
        "spans": tracer.spans,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"perfbench: no {PROGRAM}/ package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _load_spec()
    try:
        result = bench(args)
    except Exception:  # noqa: BLE001 - report, print no result, exit non-zero
        traceback.print_exc()
        return 1

    from perfbench import latency as L

    e2e, wl, jobs = result["e2e"], result["wl"], result["jobs"]
    for m in spec["end_to_end"]:
        print(f"{args.workload} {m['name']} {_fmt(e2e[m['name']])} {m['unit']}")
    print(f"{args.workload} setup parts: "
          + ", ".join(f"{k} {v:.2f}" for k, v in result["setup_parts"].items()))
    pct, tail = L.tail_percentile(jobs)
    print(f"{args.workload} job_s p50 {_fmt(L.median(jobs))} s, p{pct:.3g} {_fmt(tail)} s "
          f"(n={len(jobs)} jobs of {result['turns']} turns: {' '.join(_fmt(j) for j in jobs)})")
    print(f"{args.workload} job_cpu_s p50 {_fmt(result['job_cpu_s'])} s (JVM user+system CPU per job)")
    print(f"{args.workload} steal {100 * result['steal']:.1f}% of the box's CPU time while measuring")
    print(f"{args.workload} peak_rss_mb {_fmt(result['peak_rss_mb'])} MiB")
    print(f"{args.workload} failed_frac {wl.failed / max(wl.attempted, 1):.6g} "
          f"({wl.failed}/{wl.attempted})")
    for err in wl.errors[:20]:
        print(f"{args.workload} check failed: {err}")

    if args.trace:
        layers = result["layers"]
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"], 0)
            print(f"{args.workload} {m['name']} {_fmt(v)} {m['unit']}"
                  + ("" if m["name"] in layers else "  (layer not exercised)"))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
