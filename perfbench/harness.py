"""Shared machinery for the benchmark workloads: pinned deployment
settings, the Spark session and its JVM, forcing plans, spans, the
Spark event log, and on-disk sizes.

Workload modules call the engine only through its public functions;
everything here is measurement and set-up.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- pinned deployment settings (also listed in perfbench/README.md) ------

# The session module defaults spark.driver.memory to 24g, more than the
# RAM of a small box; the fixtures here need far less.
DRIVER_MEM = "4g"
# The session module caps G1 at 8 parallel GC threads, a figure chosen for
# local[32]; on a smaller box that is more GC threads than cores, so the
# JVM's own default (one per core up to 8) is kept instead.
DRIVER_JAVA_OPTS = ""
# benchmark-only session settings: no console progress bars on stdout,
# and enough retained progress rows for every micro-batch of a run
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.numRecentProgressUpdates": "1000",
}


# each cheap plan prefix of a traced run is forced this many times and
# its median kept, so that busy-time differences rise above job noise
PREFIX_REPEATS = 3


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark process: its arguments, fresh work directory and
    Spark session."""

    workload: str
    seed: int
    seconds: int
    work: str
    cpus: int = field(default_factory=cpu_count)
    spark: object = None
    jvm_pid: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def pin_environment(run: Run) -> None:
    """Environment the engine reads at session start. Set before the
    JVM launches; every temporary path lives in the run's work dir."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(run.path(sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"{DRIVER_JAVA_OPTS} -Djava.io.tmpdir={run.path('tmp')}".strip()
    os.environ["SPARK_EXTRA_CONF"] = ""
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def start_spark(run: Run, event_log: bool = False) -> None:
    """(Re)start the session through the engine's ``get_spark``. The
    traced phase turns the event log on via ``SPARK_EXTRA_CONF``."""
    from opentelemetry_collector_contrib_spark.session import get_spark

    if event_log:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        os.environ["SPARK_EXTRA_CONF"] = ";".join(
            [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir={run.path('eventlog')}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        )
    else:
        os.environ["SPARK_EXTRA_CONF"] = ""
    conf = dict(SESSION_CONF)
    conf["spark.sql.warehouse.dir"] = run.path("warehouse")
    spark = get_spark(app_name=f"perfbench-{run.workload}", master=f"local[{run.cpus}]", extra_conf=conf)
    run.spark = spark
    run.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(run: Run) -> None:
    """Stop the SparkContext; the JVM stays up for a restart."""
    if run.spark is not None:
        run.spark.stop()
        run.spark = None


def shutdown_jvm() -> None:
    """Stop the gateway JVM started by PySpark and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the JVM's own children (PySpark worker daemons) outlive it briefly
    children = _descendants(proc.pid)
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while children and time.monotonic() < deadline:
        children = [c for c in children if _alive(c)]
        time.sleep(0.05)
    for c in children:
        try:
            os.kill(c, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from the parent ids in /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out: list[int] = []
    frontier = [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from /proc, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def force(df, observation=None, *exprs) -> None:
    """Execute a plan fully into the noop sink (no driver collect).
    With an ``Observation`` the given aggregate expressions are
    collected during the same job."""
    if observation is not None:
        df = df.observe(observation, *exprs)
    df.write.format("noop").mode("overwrite").save()


def parquet_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def first_turns(df, turns: int):
    """The first ``turns`` rows of a transcript table in (conv_id,
    turn_idx) order; the last conversation kept may be cut short.

    How many conversations are hot varies with the seed, and with it
    the table's size (several percent at these sizes); a fixed row
    count keeps that out of run-to-run comparisons. One small
    aggregation job finds the cut."""
    from pyspark.sql import functions as F

    sizes = sorted(
        (r["conv_id"], r["n"]) for r in df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    total = 0
    for conv, n in sizes:
        if total + n >= turns:
            keep = turns - total
            return df.filter((F.col("conv_id") < conv) | ((F.col("conv_id") == conv) & (F.col("turn_idx") < keep)))
        total += n
    raise ValueError(f"table has {total} rows, fewer than {turns}")


def duck(run: Run):
    """A small DuckDB connection for oracles and read-back checks."""
    import duckdb

    con = duckdb.connect()
    os.makedirs(run.path("duck"), exist_ok=True)
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{run.path('duck')}'")
    return con


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def jvm_cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The box-wide CPU counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time the hypervisor took between two
    ``cpu_ticks`` readings."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def measure_loop(run: Run, iterate) -> tuple[list[float], list[float]]:
    """Call ``iterate()`` (returns its own wall time) until ``seconds``
    have passed and at least two jobs ran. Returns each job's wall time
    and the JVM CPU seconds it used."""
    walls: list[float] = []
    cpus: list[float] = []
    deadline = time.perf_counter() + run.seconds
    while len(walls) < 2 or time.perf_counter() < deadline:
        c0 = jvm_cpu_s(run.jvm_pid)
        walls.append(iterate())
        cpus.append(jvm_cpu_s(run.jvm_pid) - c0)
    return walls, cpus


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and run id. Written
    out once, when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark=None) -> Iterator[None]:
        """Time a block; with ``spark`` the block's jobs are tagged
        with the span name so the event log can attribute them."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if spark is not None:
            spark.sparkContext.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setJobGroup("", "")

    def seconds(self, name: str) -> float:
        """Median duration of the spans with this name."""
        times = [rec["end"] - rec["start"] for rec in self.spans if rec["name"] == name]
        if not times:
            raise KeyError(name)
        return statistics.median(times)


# --- Spark event log ---------------------------------------------------------


@dataclass
class GroupTasks:
    """Task end records of the jobs run under one job group."""

    durations_by_stage: dict[int, list[float]] = field(default_factory=dict)
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    failed: int = 0

    def task_skew(self) -> float:
        """max/median task time in the group's busiest stage."""
        if not self.durations_by_stage:
            return 0.0
        busiest = max(self.durations_by_stage.values(), key=sum)
        med = statistics.median(busiest)
        return max(busiest) / med if med > 0 else 1.0


def read_event_log(directory: str) -> dict[str, GroupTasks]:
    """Summarise a finished application's event log per job group.
    Jobs outside any group are filed under ``""``."""
    files = [f for f in glob.glob(os.path.join(directory, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupTasks] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupTasks())
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g.failed += 1
                dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                g.durations_by_stage.setdefault(ev["Stage ID"], []).append(dur)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
    return groups


def merge_groups(groups: dict[str, GroupTasks], names: list[str]) -> GroupTasks:
    out = GroupTasks()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for sid, d in g.durations_by_stage.items():
            out.durations_by_stage.setdefault(sid, []).extend(d)
        out.shuffle_bytes += g.shuffle_bytes
        out.spill_bytes += g.spill_bytes
        out.gc_s += g.gc_s
        out.failed += g.failed
    return out


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
