"""Per-partition lineage + resume: the checkpoint.Save analog.

The reference checkpoints per-file offsets every poll cycle
(``pkg/stanza/fileconsumer/file.go:144-151``) so a restart resumes
mid-stream. Our batch unit of progress is a *partition* (ts-day): each
stage records, per partition key, the row count and status into a
JSON-lines manifest; a restart asks the manifest which partitions
completed and processes only the remainder. Combined with
dynamic-partition-overwrite sinks (runtime/sinks.py) the pipeline is
idempotent and resumable mid-run.

The manifest is driver-written, tiny (one row per partition-day per
stage), and append-only — on a cluster it would be an Iceberg table
with snapshot isolation; here: JSONL under the output root.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PartitionRecord:
    stage: str
    partition: str
    rows: int
    status: str  # completed | failed
    wall_clock: float
    run_id: str


class LineageLog:
    def __init__(self, root: str, run_id: str = "run-0") -> None:
        self.path = os.path.join(root, "_lineage.jsonl")
        self.run_id = run_id
        os.makedirs(root, exist_ok=True)

    def record(self, stage: str, partition: str, rows: int, status: str = "completed") -> None:
        self.record_all(stage, {partition: rows}, status)

    def record_all(self, stage: str, counts: dict[str, int], status: str = "completed") -> None:
        """Log one record per partition, in partition order, with one append."""
        now = time.time()
        lines = [
            json.dumps(asdict(PartitionRecord(stage, part, n, status, now, self.run_id))) + "\n"
            for part, n in sorted(counts.items())
        ]
        with open(self.path, "a") as f:
            f.writelines(lines)

    def record_counts(self, stage: str, df: DataFrame, partition_col: str) -> dict[str, int]:
        """Compute per-partition counts (one agg job) and log them all."""
        counts = {
            str(r[0]): r[1]
            for r in df.groupBy(partition_col).agg(F.count(F.lit(1))).collect()
        }
        self.record_all(stage, counts)
        return counts

    def completed(self, stage: str) -> set[str]:
        done: set[str] = set()
        if not os.path.exists(self.path):
            return done
        with open(self.path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("stage") == stage and rec.get("status") == "completed":
                    done.add(rec["partition"])
        return done

    def filter_pending(self, df: DataFrame, stage: str, partition_col: str) -> DataFrame:
        """Resume: drop partitions this stage already completed."""
        done = self.completed(stage)
        if not done:
            return df
        return df.filter(~F.col(partition_col).isin(sorted(done)))
