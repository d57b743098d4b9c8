"""hostmetrics receiver → metric rows (linux scraper family).

Re-expresses the gopsutil-backed scrapers of
``receiver/hostmetricsreceiver/internal/scraper/*`` over DataFrames of
raw samples (one row per scrape per host per object), instead of
polling /proc at runtime: the input table IS the scrape. Each function
mirrors one scraper's record* fan-out and its derived math:

- cpu (``cpuscraper/cpu_scraper.go:60-105`` + ``ucal/
  cpu_utilization_calculator.go:38-71``): system.cpu.time fans each
  sample into the 8 linux states (``cpu_scraper_linux.go:19-28``);
  system.cpu.utilization is the delta vs the previous sample of the
  SAME cpu divided by elapsed total-cpu seconds — where the total
  includes guest+guest_nice (``totalCPU``, :85-90) but the recorded
  states do not, an asymmetry carried faithfully; elapsed <= 0 →
  all-zero utilizations (:57-59); the first sample of a cpu emits no
  utilization (previousCPUTimes nil, :40).
- memory (``memoryscraper/memory_scraper.go:67-87`` +
  ``memory_scraper_linux.go``): 6 usage states, utilization =
  state/total, limit, page size, linux available/dirty. A sample with
  total <= 0 contributes NO rows — the reference records usage into
  the builder then returns a fresh empty pmetric (:76-79), and those
  orphaned points would leak into the NEXT scrape's Emit; batch
  semantics drop the sample wholesale instead (divergence documented
  here, covered by a test).
- load (``loadscraper/load_scraper.go:77-101``): 1m/5m/15m gauges,
  optionally divided by the cpu count (cpu_average, :89-93).
- filesystem (``filesystemscraper/filesystem_scraper.go:71-133`` +
  ``filesystem_scraper_unix.go``): duplicate (device, mountpoint)
  pairs are skipped EXCEPT when the mountpoint is empty (:103-107 —
  the ``partition.Mountpoint != "" && ok`` guard); usage fans into
  used/free/reserved(total−used−free), utilization =
  used/(used+free) (gopsutil's UsedPercent/100), inodes into
  used/free; mount mode is rw/ro/unknown from the opts list
  (``getMountMode``, :135-142).
- disk (``diskscraper/disk_scraper_others.go:74-130`` +
  ``disk_scraper_others_linux.go``): io, operations, io_time/1e3,
  operation_time/1e3 per direction, pending_operations, and the
  linux-only weighted_io_time/1e3 + merged counts.
- network (``networkscraper/network_scraper.go:85-190`` +
  ``network_linux.go:20-33``): per-interface packets/dropped/errors/
  io with transmit=Sent/out and receive=Recv/in; tcp connection
  counts zero-filled over the 12-state linux grid (the reference
  pre-seeds every state with 0, :174-183).
- paging (``pagingscraper/paging_scraper_others.go:60-117``): per-
  device usage/utilization with the optional cached state, swap
  page_in/page_out × major/minor operations, and faults where
  minor = PgFault − PgMajFault (:115).
- processes (``processesscraper/processes_scraper.go:83-106`` +
  ``processes_scraper_unix.go:30-74``): status-word counts, then
  blocked/running REPLACED by the /proc/stat misc readings, then
  unknown REPLACED by procs_total − Σcounts when positive (the sum
  includes the pre-override unknown).
- system (``systemscraper/system_scraper.go:46-54``): uptime gauge.

Plan shape: every fan-out is an inline explode of a struct array
(zero shuffle, whole-stage codegen); the only exchanges are the lag
window per (host, cpu) in cpu utilization, the first-occurrence
window in filesystem dedup, and the groupBy in connection/process
counts — each keyed by (host, …) so 10^12-row inputs shard evenly
across executors. No Python UDFs anywhere.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_CPU_STATES = [
    ("user", "user"), ("system", "system"), ("idle", "idle"),
    ("irq", "interrupt"), ("nice", "nice"), ("softirq", "softirq"),
    ("steal", "steal"), ("iowait", "wait"),
]

# network_linux.go:20-33
TCP_STATES = [
    "CLOSE_WAIT", "CLOSE", "CLOSING", "DELETE", "ESTABLISHED",
    "FIN_WAIT_1", "FIN_WAIT_2", "LAST_ACK", "LISTEN", "SYN_SENT",
    "SYN_RECV", "TIME_WAIT",
]

# processes_scraper_unix.go:84-97 (gopsutil status word → otel attr)
_PROC_STATES = [
    ("blocked", "blocked"), ("daemon", "daemon"),
    ("detached", "detached"), ("idle", "idle"), ("lock", "locked"),
    ("orphan", "orphan"), ("running", "running"),
    ("sleep", "sleeping"), ("stop", "stopped"), ("system", "system"),
    ("wait", "paging"), ("zombie", "zombies"),
]

_ND = "cast(null as double)"


def _explode_entries(df: DataFrame, base: list, entries: list,
                     prefix: str, attrs: list) -> DataFrame:
    """Fan each row into one output row per metric entry."""
    out = df.select(*base, F.explode(F.array(*entries)).alias("_m"))
    m = F.col("_m")
    cols = [m[a].alias(f"{prefix}_{a}") for a in attrs]
    return out.select(*base, *cols)


def host_cpu_metrics(df: DataFrame) -> DataFrame:
    """cpu.time + cpu.utilization rows from cumulative cpu samples.

    Input columns: host, cpu, ts (orderable), and the 8+2 cumulative
    state-seconds doubles ``user system idle nice iowait irq softirq
    steal guest guest_nice``.
    """
    host, cpu, ts = F.col("host"), F.col("cpu"), F.col("ts")
    states = ["user", "system", "idle", "nice", "iowait", "irq",
              "softirq", "steal"]
    total = sum((F.col(c) for c in states[1:]), F.col(states[0])) \
        + F.col("guest") + F.col("guest_nice")

    w = Window.partitionBy(host, cpu).orderBy(ts)
    lagged = df.select(
        host.alias("host"), cpu.alias("cpu"), ts.alias("ts"),
        *[F.col(c).cast("double").alias(c)
          for c in states + ["guest", "guest_nice"]],
        total.cast("double").alias("_total"),
        F.lag(total).over(w).cast("double").alias("_p_total"),
        *[F.lag(F.col(c)).over(w).cast("double").alias(f"_p_{c}")
          for c in states],
    )

    elapsed = F.col("_total") - F.col("_p_total")
    entries = []
    for col, attr in _CPU_STATES:
        entries.append(F.expr(
            f"struct('system.cpu.time' as metric, '{attr}' as state, "
            f"{col} as value_d)"))
        util = F.when(elapsed <= 0, F.lit(0.0)).otherwise(
            (F.col(col) - F.col(f"_p_{col}")) / elapsed)
        entries.append(F.struct(
            F.lit("system.cpu.utilization").alias("metric"),
            F.lit(attr).alias("state"),
            F.when(F.col("_p_total").isNotNull(), util)
            .alias("value_d"),
        ))
    out = _explode_entries(lagged, ["host", "cpu", "ts"], entries,
                           "hm", ["metric", "state", "value_d"])
    # first sample of a cpu: utilization entries are null → not emitted
    return out.where(F.col("hm_value_d").isNotNull())


def host_memory_metrics(df: DataFrame) -> DataFrame:
    """memory usage/utilization/limit + linux extras per sample.

    Input columns: host, ts, total, used, free, buffers, cached,
    sreclaimable, sunreclaim, available, dirty, page_size (bigints).
    """
    base = [F.col("host").alias("host"), F.col("ts").alias("ts")]
    states = [("used", "used"), ("free", "free"),
              ("buffers", "buffered"), ("cached", "cached"),
              ("sreclaimable", "slab_reclaimable"),
              ("sunreclaim", "slab_unreclaimable")]
    tot = F.col("total")
    entries = []
    for col, attr in states:
        entries.append(F.expr(
            f"struct('system.memory.usage' as metric, '{attr}' as "
            f"state, cast({col} as bigint) as value, {_ND} as value_d)"
        ))
        entries.append(F.struct(
            F.lit("system.memory.utilization").alias("metric"),
            F.lit(attr).alias("state"),
            F.lit(None).cast("bigint").alias("value"),
            (F.col(col).cast("double") / tot).alias("value_d"),
        ))
    for metric, col in [("system.memory.limit", "total"),
                        ("system.linux.memory.available", "available"),
                        ("system.linux.memory.dirty", "dirty"),
                        ("system.memory.page_size", "page_size")]:
        entries.append(F.expr(
            f"struct('{metric}' as metric, cast(null as string) as "
            f"state, cast({col} as bigint) as value, {_ND} as value_d)"
        ))
    valid = df.where(tot > 0)  # memory_scraper.go:76-79
    return _explode_entries(valid, base, entries, "hm",
                            ["metric", "state", "value", "value_d"])


def host_load_metrics(df: DataFrame, cpu_average: bool = False) -> DataFrame:
    """load 1m/5m/15m (+ uptime when present) per sample.

    Input columns: host, ts, load1, load5, load15, ncpu
    [, uptime_sec].
    """
    base = [F.col("host").alias("host"), F.col("ts").alias("ts")]
    div = F.col("ncpu").cast("double") if cpu_average else F.lit(1.0)
    entries = [
        F.struct(F.lit(f"system.cpu.load_average.{m}").alias("metric"),
                 (F.col(c).cast("double") / div).alias("value_d"))
        for m, c in [("1m", "load1"), ("5m", "load5"),
                     ("15m", "load15")]
    ]
    if "uptime_sec" in df.columns:  # system_scraper.go:46-54
        entries.append(F.expr(
            "struct('system.uptime' as metric, "
            "cast(uptime_sec as double) as value_d)"))
    return _explode_entries(df, base, entries, "hm",
                            ["metric", "value_d"])


def host_filesystem_metrics(df: DataFrame) -> DataFrame:
    """filesystem usage/utilization/inodes per partition sample.

    Input columns: host, ts, seq (partition-list ordinal — drives the
    reference's first-wins dedup), device, mountpoint, fstype, opts
    (comma-joined), used, free, total, inodes_used, inodes_free.
    """
    host, ts = F.col("host"), F.col("ts")
    w = Window.partitionBy(host, ts, F.col("device"),
                           F.col("mountpoint")).orderBy(F.col("seq"))
    df = (df.withColumn("_rn", F.row_number().over(w))
            .where((F.col("mountpoint") == "") | (F.col("_rn") == 1)))

    opts = F.split(F.col("opts"), ",")
    mode = (F.when(F.array_contains(opts, "rw"), "rw")
             .when(F.array_contains(opts, "ro"), "ro")
             .otherwise("unknown"))
    base_cols = [host.alias("host"), ts.alias("ts"),
                 F.col("device").alias("device"),
                 mode.alias("mode"),
                 F.col("mountpoint").alias("mountpoint"),
                 F.col("fstype").alias("fstype")]
    entries = [
        F.expr(f"struct('system.filesystem.usage' as metric, 'used' as"
               f" state, cast(used as bigint) as value, {_ND} as value_d)"),
        F.expr(f"struct('system.filesystem.usage' as metric, 'free' as"
               f" state, cast(free as bigint) as value, {_ND} as value_d)"),
        F.expr(f"struct('system.filesystem.usage' as metric, "
               f"'reserved' as state, cast(total - used - free as "
               f"bigint) as value, {_ND} as value_d)"),
        F.struct(
            F.lit("system.filesystem.utilization").alias("metric"),
            F.lit(None).cast("string").alias("state"),
            F.lit(None).cast("bigint").alias("value"),
            (F.col("used").cast("double")
             / (F.col("used") + F.col("free"))).alias("value_d"),
        ),
        F.expr(f"struct('system.filesystem.inodes.usage' as metric, "
               f"'used' as state, cast(inodes_used as bigint) as value,"
               f" {_ND} as value_d)"),
        F.expr(f"struct('system.filesystem.inodes.usage' as metric, "
               f"'free' as state, cast(inodes_free as bigint) as value,"
               f" {_ND} as value_d)"),
    ]
    sel = df.select(*base_cols, F.explode(F.array(*entries)).alias("_m"))
    m = F.col("_m")
    return sel.select(
        "host", "ts", "device", "mode", "mountpoint", "fstype",
        m["metric"].alias("hm_metric"), m["state"].alias("hm_state"),
        m["value"].alias("hm_value"), m["value_d"].alias("hm_value_d"),
    )


def host_disk_metrics(df: DataFrame) -> DataFrame:
    """disk io/operations/times/pending/merged per device sample.

    Input columns: host, ts, device, read_bytes, write_bytes,
    read_count, write_count, read_time_ms, write_time_ms, io_time_ms,
    weighted_io_ms, merged_read_count, merged_write_count,
    iops_in_progress.
    """
    base = [F.col("host").alias("host"), F.col("ts").alias("ts"),
            F.col("device").alias("device")]
    pairs = [  # (metric, read-ish column, write-ish column, is_int)
        ("system.disk.io", "read_bytes", "write_bytes", True),
        ("system.disk.operations", "read_count", "write_count", True),
        ("system.disk.merged", "merged_read_count",
         "merged_write_count", True),
    ]
    entries = []
    for metric, rc, wc, _ in pairs:
        for col, d in [(rc, "read"), (wc, "write")]:
            entries.append(F.expr(
                f"struct('{metric}' as metric, '{d}' as direction, "
                f"cast({col} as bigint) as value, {_ND} as value_d)"))
    for col, d in [("read_time_ms", "read"), ("write_time_ms", "write")]:
        entries.append(F.expr(
            f"struct('system.disk.operation_time' as metric, '{d}' as "
            f"direction, cast(null as bigint) as value, "
            f"cast({col} as double) / 1e3 as value_d)"))
    entries.append(F.expr(
        f"struct('system.disk.io_time' as metric, cast(null as string)"
        f" as direction, cast(null as bigint) as value, "
        f"cast(io_time_ms as double) / 1e3 as value_d)"))
    entries.append(F.expr(
        f"struct('system.disk.weighted_io_time' as metric, cast(null "
        f"as string) as direction, cast(null as bigint) as value, "
        f"cast(weighted_io_ms as double) / 1e3 as value_d)"))
    entries.append(F.expr(
        f"struct('system.disk.pending_operations' as metric, "
        f"cast(null as string) as direction, cast(iops_in_progress as "
        f"bigint) as value, {_ND} as value_d)"))
    return _explode_entries(df, base, entries, "hm",
                            ["metric", "direction", "value", "value_d"])


def host_network_metrics(df: DataFrame) -> DataFrame:
    """per-interface packets/dropped/errors/io counter rows.

    Input columns: host, ts, interface, bytes_sent, bytes_recv,
    packets_sent, packets_recv, errin, errout, dropin, dropout.
    """
    base = [F.col("host").alias("host"), F.col("ts").alias("ts"),
            F.col("interface").alias("interface")]
    fan = [("system.network.packets", "packets_sent", "packets_recv"),
           ("system.network.dropped", "dropout", "dropin"),
           ("system.network.errors", "errout", "errin"),
           ("system.network.io", "bytes_sent", "bytes_recv")]
    entries = []
    for metric, tx, rx in fan:
        entries.append(F.expr(
            f"struct('{metric}' as metric, 'transmit' as direction, "
            f"cast({tx} as bigint) as value)"))
        entries.append(F.expr(
            f"struct('{metric}' as metric, 'receive' as direction, "
            f"cast({rx} as bigint) as value)"))
    return _explode_entries(df, base, entries, "hm",
                            ["metric", "direction", "value"])


def host_network_connections(df: DataFrame) -> DataFrame:
    """tcp connection counts zero-filled over the 12-state grid.

    Input: one row per live connection (host, ts, status). Statuses
    outside the grid still count (the Go map accumulates them too);
    grid states absent from the sample emit 0.
    """
    host, ts = F.col("host").alias("host"), F.col("ts").alias("ts")
    counts = (df.groupBy(host, ts, F.col("status").alias("state"))
                .agg(F.count("*").alias("n")))
    spark = df.sparkSession
    grid = spark.createDataFrame([(s,) for s in TCP_STATES],
                                 "state string")
    samples = df.select(host, ts).distinct()
    seeded = samples.join(F.broadcast(grid), how="cross")
    full = (seeded.join(counts, ["host", "ts", "state"], "full_outer")
                  .select("host", "ts", "state",
                          F.coalesce(F.col("n"), F.lit(0)).alias("n")))
    return full.select(
        "host", "ts",
        F.lit("system.network.connections").alias("hm_metric"),
        F.lit("tcp").alias("hm_protocol"),
        F.col("state").alias("hm_state"),
        F.col("n").cast("bigint").alias("hm_value"),
    )


def host_paging_metrics(df_pagefile: DataFrame, df_swap: DataFrame) -> DataFrame:
    """paging usage/utilization per device + swap ops/faults rows.

    df_pagefile: host, ts, device, used, free, total, cached
    (nullable). df_swap: host, ts, sin, sout, pgin, pgout, pgfault,
    pgmajfault.
    """
    host = F.col("host").alias("host")
    ts = F.col("ts").alias("ts")
    dev = F.col("device").alias("device")
    tot = F.col("total").cast("double")
    entries = []
    for col, attr in [("used", "used"), ("free", "free"),
                      ("cached", "cached")]:
        present = (F.col(col).isNotNull() if col == "cached"
                   else F.lit(True))
        entries.append(F.struct(
            F.lit("system.paging.usage").alias("metric"),
            F.lit(attr).alias("state"),
            F.lit(None).cast("string").alias("direction"),
            F.lit(None).cast("string").alias("type"),
            F.when(present, F.col(col).cast("bigint")).alias("value"),
            F.lit(None).cast("double").alias("value_d"),
            present.alias("ok"),
        ))
        entries.append(F.struct(
            F.lit("system.paging.utilization").alias("metric"),
            F.lit(attr).alias("state"),
            F.lit(None).cast("string").alias("direction"),
            F.lit(None).cast("string").alias("type"),
            F.lit(None).cast("bigint").alias("value"),
            F.when(present, F.col(col).cast("double") / tot)
            .alias("value_d"),
            present.alias("ok"),
        ))
    usage = (df_pagefile
             .select(host, ts, dev, F.explode(F.array(*entries))
                     .alias("_m"))
             .where(F.col("_m.ok")))

    sw = []
    for col, d, t in [("sin", "page_in", "major"),
                      ("sout", "page_out", "major"),
                      ("pgin", "page_in", "minor"),
                      ("pgout", "page_out", "minor")]:
        sw.append(F.expr(
            f"struct('system.paging.operations' as metric, "
            f"cast(null as string) as state, '{d}' as direction, "
            f"'{t}' as type, cast({col} as bigint) as value, "
            f"{_ND} as value_d, true as ok)"))
    sw.append(F.expr(
        f"struct('system.paging.faults' as metric, cast(null as "
        f"string) as state, cast(null as string) as direction, "
        f"'major' as type, cast(pgmajfault as bigint) as value, "
        f"{_ND} as value_d, true as ok)"))
    sw.append(F.expr(
        f"struct('system.paging.faults' as metric, cast(null as "
        f"string) as state, cast(null as string) as direction, "
        f"'minor' as type, cast(pgfault - pgmajfault as bigint) as "
        f"value, {_ND} as value_d, true as ok)"))
    ops = df_swap.select(
        host, ts, F.lit(None).cast("string").alias("device"),
        F.explode(F.array(*sw)).alias("_m"))

    m = F.col("_m")
    cols = ["host", "ts", "device"]
    return usage.unionByName(ops).select(
        *cols, m["metric"].alias("hm_metric"),
        m["state"].alias("hm_state"),
        m["direction"].alias("hm_direction"),
        m["type"].alias("hm_type"), m["value"].alias("hm_value"),
        m["value_d"].alias("hm_value_d"),
    )


def host_processes_metrics(df_procs: DataFrame, df_misc: DataFrame) -> DataFrame:
    """processes.count by status + processes.created per sample.

    df_procs: host, ts, status (gopsutil status word, e.g. 'running');
    df_misc: host, ts, procs_total, procs_running, procs_blocked,
    procs_created. Mirrors processes_scraper_unix.go:30-74: unmapped
    words count as unknown; running/blocked come from the misc stats
    (replacing the per-process readings); unknown is re-derived as
    procs_total − Σcounts when that is positive.
    """
    spark = df_procs.sparkSession
    smap = spark.createDataFrame(_PROC_STATES, "word string, st string")
    host, ts = F.col("host").alias("host"), F.col("ts").alias("ts")

    mapped = (df_procs.select(host, ts, F.col("status").alias("word"))
              .join(F.broadcast(smap), "word", "left")
              .select("host", "ts",
                      F.coalesce(F.col("st"), F.lit("unknown"))
                      .alias("st")))
    counts = mapped.groupBy("host", "ts", "st").agg(
        F.count("*").alias("n"))

    misc = df_misc.select(
        host, ts, F.col("procs_total").cast("bigint").alias("_total"),
        F.col("procs_running").cast("bigint").alias("_running"),
        F.col("procs_blocked").cast("bigint").alias("_blocked"),
        F.col("procs_created").cast("bigint").alias("_created"))

    # pivot the per-status counts into one row per sample so the
    # replace-then-rebalance ladder is plain column math (the status
    # set is the fixed 13-word grid, so this is a bounded map, not a
    # wide pivot)
    kv = counts.groupBy("host", "ts").agg(
        F.map_from_entries(F.collect_list(F.struct("st", "n")))
        .alias("_m"))
    j = misc.join(kv, ["host", "ts"], "left")
    get = lambda s: F.coalesce(  # noqa: E731
        F.element_at(F.col("_m"), s), F.lit(0))

    others = [s for _, s in _PROC_STATES
              if s not in ("running", "blocked")]
    total_known = (sum((get(s) for s in others[1:]), get(others[0]))
                   + get("unknown") + F.col("_running")
                   + F.col("_blocked"))
    unknown = F.when(F.col("_total") > total_known,
                     F.col("_total") - total_known) \
               .otherwise(get("unknown"))

    entries = [F.struct(F.lit(s).alias("st"), get(s).alias("n"))
               for s in others]
    entries += [
        F.struct(F.lit("running").alias("st"),
                 F.col("_running").alias("n")),
        F.struct(F.lit("blocked").alias("st"),
                 F.col("_blocked").alias("n")),
        F.struct(F.lit("unknown").alias("st"), unknown.alias("n")),
    ]
    by_status = j.select(
        "host", "ts", F.explode(F.array(*entries)).alias("_e"))
    # the reference emits only map keys that were actually set: any
    # observed status, plus running/blocked always (misc overrides)
    by_status = by_status.where(
        (F.col("_e.n") > 0)
        | F.col("_e.st").isin("running", "blocked"))
    count_rows = by_status.select(
        "host", "ts",
        F.lit("system.processes.count").alias("hm_metric"),
        F.col("_e.st").alias("hm_status"),
        F.col("_e.n").cast("bigint").alias("hm_value"))
    created = misc.select(
        "host", "ts",
        F.lit("system.processes.created").alias("hm_metric"),
        F.lit(None).cast("string").alias("hm_status"),
        F.col("_created").alias("hm_value"))
    return count_rows.unionByName(created)
