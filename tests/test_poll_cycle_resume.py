"""Poll-cycle writes (jobs/pipeline.py --poll-days): the filelog
poll-cycle analog (reference commits per-file offsets each poll,
``pkg/stanza/fileconsumer/file.go:144-151``).

Each cycle of N ts-days commits its days to the lineage manifest, so
a crashed driver loses at most the in-flight cycle; --resume then
reprocesses only pending days and the sink ends byte-count-identical
to a single-shot run. The real kill -9 transcript lives in
``tools/fault_resume_r5.py`` / BENCH/CURATION_FULL_R5.md; this test
pins the in-process semantics.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

import pipeline as pipeline_job

from opentelemetry_collector_contrib_spark.plans.pipeline import aggregate_counts
from opentelemetry_collector_contrib_spark.runtime.lineage import LineageLog
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts


def _day_counts(spark, root):
    df = spark.read.parquet(f"{root}/sink=routed")
    return {
        (r[0], str(r[1])): r[2] for r in df.groupBy("route", "ts_day").count().collect()
    }


def _assert_metrics_match_sink(spark, root):
    """Each metric table equals ``aggregate_counts`` over the WHOLE
    routed sink, however many cycles (or runs) wrote it."""
    back = spark.read.parquet(f"{root}/sink=routed")
    for name, expect in aggregate_counts(back).items():
        got = spark.read.parquet(f"{root}/sink=metric_{name}")
        assert got.columns == expect.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect())), name


def _sink_day_records(root):
    with open(f"{root}/_lineage.jsonl") as f:
        return sorted(
            rec["partition"] for rec in map(json.loads, f) if rec["stage"] == "sink_day"
        )


def test_poll_cycles_commit_per_cycle_and_match_single_shot(spark, tmp_path, capsys):
    inp = str(tmp_path / "input")
    generate_transcripts(spark, n_convs=80).write.parquet(inp)

    single = str(tmp_path / "single")
    assert pipeline_job.main(["--input", inp, "--out", single]) == 0
    ref = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    polled = str(tmp_path / "polled")
    assert pipeline_job.main(["--input", inp, "--out", polled, "--poll-days", "8"]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # same rows per sink, same per-(route, day) sink content
    assert got["per_sink"] == ref["per_sink"]
    assert _day_counts(spark, polled) == _day_counts(spark, single)
    # the manifest holds every day (30-day synthetic spread -> 4 cycles)
    days = LineageLog(polled).completed("sink_day")
    assert len(days) == len({d for (_, d) in _day_counts(spark, single)})
    # ... once: a cycle records only the days it wrote, not every day
    # its read-back of the sink sees
    assert _sink_day_records(polled) == sorted(days)


def test_noop_sink_reports_the_parquet_per_sink(spark, tmp_path, capsys):
    inp = str(tmp_path / "input")
    generate_transcripts(spark, n_convs=80).write.parquet(inp)

    assert pipeline_job.main(["--input", inp, "--out", str(tmp_path / "parquet")]) == 0
    ref = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    noop = tmp_path / "noop"
    assert pipeline_job.main(["--input", inp, "--out", str(noop), "--sink", "noop"]) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert got["per_sink"] == ref["per_sink"]
    assert sum(got["per_sink"].values()) == got["turns"] > 0
    # the job counts its own Spark jobs, whichever sink it writes
    assert ref["spark_jobs"] > 0 and got["spark_jobs"] > 0
    assert not (noop / "sink=routed").exists()  # nothing written


def test_poll_cycle_resume_reprocesses_only_pending_days(spark, tmp_path, capsys):
    inp = str(tmp_path / "input")
    generate_transcripts(spark, n_convs=80).write.parquet(inp)

    out = str(tmp_path / "out")
    assert pipeline_job.main(["--input", inp, "--out", out, "--poll-days", "8"]) == 0
    full = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    before = _day_counts(spark, out)
    _assert_metrics_match_sink(spark, out)

    # simulate the crash: forget every sink_day record after the first
    # poll cycle (the first 8 days stay committed)
    manifest = f"{out}/_lineage.jsonl"
    committed = sorted(LineageLog(out).completed("sink_day"))[:8]
    lines = [
        ln for ln in open(manifest)
        if not (
            (rec := json.loads(ln)).get("stage") == "sink_day"
            and rec.get("partition") not in committed
        )
    ]
    with open(manifest, "w") as f:
        f.writelines(lines)

    assert pipeline_job.main(
        ["--input", inp, "--out", out, "--poll-days", "8", "--resume"]
    ) == 0
    resumed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    skipped = sum(
        n for (_, d), n in before.items() if d in committed
    )
    assert skipped > 0
    # committed days are never rewritten; forgotten days are rewritten
    # (the dynamic overwrite replaces them in place) and recorded again
    assert 0 < resumed["turns"] <= full["turns"] - skipped
    assert _day_counts(spark, out) == before  # sink unchanged
    _assert_metrics_match_sink(spark, out)
    # after resume the manifest is whole again: every day completed
    assert LineageLog(out).completed("sink_day") == {d for (_, d) in before}
