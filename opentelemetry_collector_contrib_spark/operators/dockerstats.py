"""Docker container-stats → metric translation.

Re-expresses ``receiver/dockerstatsreceiver/receiver.go:131-318`` +
``metric_helper.go:29-133`` over DataFrames with one row per
container, holding the stats-API JSON (``stats``) and the inspect
JSON (``container``) — the same two documents the reference fetches
per container in scrapeV2.

Semantics mirrored 1:1:

- CPU (:269-283): system/total/kernelmode/usermode + throttling data,
  per-core ``cpuN`` fan, ``container.cpu.utilization`` via the
  docker-cli calculateCPUPercent (delta vs ``precpu_stats``, online
  CPUs falling back to the percpu length, 0 unless both deltas > 0);
- memory (:172-228): usage.total is calculateMemUsageNoCache — the
  cgroup v1 ``total_inactive_file``-else-v2 ``inactive_file`` ladder
  with the uint64 ``v < usage`` guards; percent from the no-cache
  usage; the 34-entry stats-name recorder table (unknown names
  silently skipped);
- blkio (:230-250): the 8 recursive stat arrays fan per device with
  stringified major/minor and lowercased op;
- network (:252-267): the 8 rx/tx counters fan per interface;
- pids (:285-293): count only when Current != 0, limit only when
  additionally Limit != 0;
- uptime (:295-305): RFC3339 ``State.StartedAt`` — emitted only when
  ``now - started > 0`` seconds, parse failure is a partial scrape
  error (``dk_ok=false`` row). ``now`` is the caller-supplied
  ``now_ns`` so results stay deterministic;
- host config (:307-318): ``container.cpu.shares`` always;
  ``container.cpu.limit`` from the NanoCpus → CpusetCpus → CpuQuota
  ladder (metric_helper.go:91-133) incl. parseCPUSet range counting —
  an invalid cpuset is a partial error row;
- restarts + the 7 always-present resource attrs (name trimmed of its
  leading "/", command line joined by spaces).

Emission mirrors the Record calls (the metadata enable knob is config
filtering downstream, not scrape logic). Plan: two ``from_json``
parses + inline explode — zero shuffle, zero Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# stats-map name -> metric suffix (receiver.go:188-217); metric name
# is "container.memory." + name verbatim.
_DOCKER_MEM_STATS = (
    "cache", "total_cache", "rss", "total_rss", "rss_huge",
    "total_rss_huge", "dirty", "total_dirty", "writeback",
    "total_writeback", "mapped_file", "total_mapped_file", "pgpgin",
    "total_pgpgin", "pgpgout", "total_pgpgout", "pgfault",
    "total_pgfault", "pgmajfault", "total_pgmajfault", "inactive_anon",
    "total_inactive_anon", "active_anon", "total_active_anon",
    "inactive_file", "total_inactive_file", "active_file",
    "total_active_file", "unevictable", "total_unevictable",
    "hierarchical_memory_limit", "hierarchical_memsw_limit", "anon",
    "file",
)

_DOCKER_BLKIO = (
    ("io_merged_recursive", "container.blockio.io_merged_recursive"),
    ("io_queued_recursive", "container.blockio.io_queued_recursive"),
    ("io_service_bytes_recursive",
     "container.blockio.io_service_bytes_recursive"),
    ("io_service_time_recursive",
     "container.blockio.io_service_time_recursive"),
    ("io_serviced_recursive", "container.blockio.io_serviced_recursive"),
    ("io_time_recursive", "container.blockio.io_time_recursive"),
    ("io_wait_time_recursive",
     "container.blockio.io_wait_time_recursive"),
    ("sectors_recursive", "container.blockio.sectors_recursive"),
)

_DOCKER_NET = (
    ("rx_bytes", "container.network.io.usage.rx_bytes"),
    ("tx_bytes", "container.network.io.usage.tx_bytes"),
    ("rx_dropped", "container.network.io.usage.rx_dropped"),
    ("tx_dropped", "container.network.io.usage.tx_dropped"),
    ("rx_packets", "container.network.io.usage.rx_packets"),
    ("tx_packets", "container.network.io.usage.tx_packets"),
    ("rx_errors", "container.network.io.usage.rx_errors"),
    ("tx_errors", "container.network.io.usage.tx_errors"),
)

_STATS_SCHEMA = """struct<
  cpu_stats: struct<
    cpu_usage: struct<total_usage: bigint, usage_in_kernelmode: bigint,
                      usage_in_usermode: bigint,
                      percpu_usage: array<bigint>>,
    system_cpu_usage: bigint, online_cpus: bigint,
    throttling_data: struct<periods: bigint, throttled_periods: bigint,
                            throttled_time: bigint>>,
  precpu_stats: struct<
    cpu_usage: struct<total_usage: bigint, percpu_usage: array<bigint>>,
    system_cpu_usage: bigint, online_cpus: bigint>,
  memory_stats: struct<usage: bigint, max_usage: bigint, limit: bigint,
                       failcnt: bigint, stats: map<string, bigint>>,
  blkio_stats: struct<
    io_merged_recursive: array<struct<major: bigint, minor: bigint,
                                      op: string, value: bigint>>,
    io_queued_recursive: array<struct<major: bigint, minor: bigint,
                                      op: string, value: bigint>>,
    io_service_bytes_recursive: array<struct<major: bigint,
        minor: bigint, op: string, value: bigint>>,
    io_service_time_recursive: array<struct<major: bigint,
        minor: bigint, op: string, value: bigint>>,
    io_serviced_recursive: array<struct<major: bigint, minor: bigint,
                                        op: string, value: bigint>>,
    io_time_recursive: array<struct<major: bigint, minor: bigint,
                                    op: string, value: bigint>>,
    io_wait_time_recursive: array<struct<major: bigint, minor: bigint,
                                         op: string, value: bigint>>,
    sectors_recursive: array<struct<major: bigint, minor: bigint,
                                    op: string, value: bigint>>>,
  networks: map<string, struct<rx_bytes: bigint, tx_bytes: bigint,
                               rx_dropped: bigint, tx_dropped: bigint,
                               rx_packets: bigint, tx_packets: bigint,
                               rx_errors: bigint, tx_errors: bigint>>,
  pids_stats: struct<current: bigint, limit: bigint>
>"""

_CONTAINER_SCHEMA = """struct<
  Id: string, Name: string, Image: string, RestartCount: bigint,
  Config: struct<Hostname: string, Image: string, Cmd: array<string>>,
  State: struct<StartedAt: string>,
  HostConfig: struct<CpuShares: bigint, NanoCpus: bigint,
                     CpusetCpus: string, CpuQuota: bigint,
                     CpuPeriod: bigint>
>"""

_ENTRY_TYPE = (
    "struct<metric:string,devmaj:string,devmin:string,op:string,"
    "iface:string,core:string,value:bigint,value_d:double,ok:boolean,"
    "present:boolean>"
)


def _z(c: Column) -> Column:
    return F.coalesce(c, F.lit(0))


def docker_container_stats(
    df: DataFrame,
    now_ns: int = 0,
) -> DataFrame:
    s = F.from_json(F.col("stats"), _STATS_SCHEMA)
    c = F.from_json(F.col("container"), _CONTAINER_SCHEMA)
    base = [x for x in df.columns if x not in ("stats", "container")]
    df = df.select(*base, s.alias("_s"), c.alias("_c"))
    s, c = F.col("_s"), F.col("_c")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def mk(metric, vi, vd, ok=None, present=None, devmaj=None,
           devmin=None, op=None, iface=None, core=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (devmaj if devmaj is not None else ns).alias("devmaj"),
            (devmin if devmin is not None else ns).alias("devmin"),
            (op if op is not None else ns).alias("op"),
            (iface if iface is not None else ns).alias("iface"),
            (core if core is not None else ns).alias("core"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            (ok if ok is not None else F.lit(True)).alias("ok"),
            (present if present is not None else F.lit(True))
                .alias("present"),
        )

    cpu = s["cpu_stats"]
    pre = s["precpu_stats"]
    mem = s["memory_stats"]

    entries = [
        mk("container.cpu.usage.system", _z(cpu["system_cpu_usage"]), nd),
        mk("container.cpu.usage.total",
           _z(cpu["cpu_usage"]["total_usage"]), nd),
        mk("container.cpu.usage.kernelmode",
           _z(cpu["cpu_usage"]["usage_in_kernelmode"]), nd),
        mk("container.cpu.usage.usermode",
           _z(cpu["cpu_usage"]["usage_in_usermode"]), nd),
        mk("container.cpu.throttling_data.throttled_periods",
           _z(cpu["throttling_data"]["throttled_periods"]), nd),
        mk("container.cpu.throttling_data.periods",
           _z(cpu["throttling_data"]["periods"]), nd),
        mk("container.cpu.throttling_data.throttled_time",
           _z(cpu["throttling_data"]["throttled_time"]), nd),
        mk("container.cpu.logical.count", _z(cpu["online_cpus"]), nd),
    ]

    # calculateCPUPercent (metric_helper.go:29-46)
    cpu_delta = (
        _z(cpu["cpu_usage"]["total_usage"]).cast("double")
        - _z(pre["cpu_usage"]["total_usage"]).cast("double")
    )
    sys_delta = (
        _z(cpu["system_cpu_usage"]).cast("double")
        - _z(pre["system_cpu_usage"]).cast("double")
    )
    online = _z(cpu["online_cpus"]).cast("double")
    online = F.when(
        online == 0.0,
        F.size(F.coalesce(cpu["cpu_usage"]["percpu_usage"], F.array()))
            .cast("double"),
    ).otherwise(online)
    cpu_pct = F.when(
        (sys_delta > 0.0) & (cpu_delta > 0.0),
        cpu_delta / sys_delta * online * 100.0,
    ).otherwise(F.lit(0.0))
    entries.append(mk("container.cpu.utilization", nl, cpu_pct))

    # calculateMemUsageNoCache (metric_helper.go:62-73)
    usage = _z(mem["usage"])
    v1 = F.try_element_at(mem["stats"], F.lit("total_inactive_file"))
    v2 = _z(F.try_element_at(mem["stats"], F.lit("inactive_file")))
    # Go falls through to the v2 check even when total_inactive_file
    # exists but is >= usage (metric_helper.go:62-73)
    total_usage = (
        F.when(v1.isNotNull() & (v1 < usage), usage - v1)
        .when(v2 < usage, usage - v2)
        .otherwise(usage)
    )
    mem_pct = F.when(
        _z(mem["limit"]) != 0,
        total_usage.cast("double") / mem["limit"].cast("double") * 100.0,
    ).otherwise(F.lit(0.0))
    entries += [
        mk("container.memory.usage.total", total_usage, nd),
        mk("container.memory.usage.limit", _z(mem["limit"]), nd),
        mk("container.memory.percent", nl, mem_pct),
        mk("container.memory.usage.max", _z(mem["max_usage"]), nd),
        mk("container.memory.fails", _z(mem["failcnt"]), nd),
    ]
    for name in _DOCKER_MEM_STATS:
        v = F.try_element_at(mem["stats"], F.lit(name))
        entries.append(mk("container.memory." + name, v, nd,
                          present=v.isNotNull()))

    # pids (receiver.go:285-293)
    cur = _z(s["pids_stats"]["current"])
    lim = _z(s["pids_stats"]["limit"])
    entries.append(mk("container.pids.count", cur, nd, present=cur != 0))
    entries.append(mk("container.pids.limit", lim, nd,
                      present=(cur != 0) & (lim != 0)))

    # uptime (receiver.go:295-305) — deterministic caller-supplied now
    started = F.try_to_timestamp(c["State"]["StartedAt"])
    up_sec = (F.lit(now_ns).cast("double")
              - (F.unix_micros(started) * 1000).cast("double")) / 1e9
    entries.append(mk(
        "container.uptime", nl, up_sec,
        ok=started.isNotNull(),
        present=started.isNull() | (up_sec > 0),
    ))

    hc = c["HostConfig"]
    entries.append(mk("container.cpu.shares", _z(hc["CpuShares"]), nd))

    # calculateCPULimit ladder (metric_helper.go:91-133)
    cpuset = F.coalesce(hc["CpusetCpus"], F.lit(""))
    parts = F.split(cpuset, ",")
    part_counts = F.transform(parts, lambda p: F.when(
        F.size(F.split(p, "-")) == 2,
        F.get(F.split(p, "-"), 1).try_cast("bigint")
        - F.get(F.split(p, "-"), 0).try_cast("bigint") + 1,
    ).otherwise(F.lit(1)))
    cpuset_valid = F.forall(parts, lambda p: (
        (F.size(F.split(p, "-")) != 2)
        | (F.get(F.split(p, "-"), 0).try_cast("bigint").isNotNull()
           & F.get(F.split(p, "-"), 1).try_cast("bigint").isNotNull())
    ))
    cpuset_n = F.aggregate(
        part_counts, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    ).cast("double")
    nano = _z(hc["NanoCpus"])
    quota = _z(hc["CpuQuota"])
    period = F.when(_z(hc["CpuPeriod"]) == 0, F.lit(100000)).otherwise(
        hc["CpuPeriod"]
    )
    cpu_limit = (
        F.when(nano > 0, nano.cast("double") / 1e9)
        .when(cpuset != "", cpuset_n)
        .when(quota > 0, quota.cast("double") / period.cast("double"))
        .otherwise(F.lit(0.0))
    )
    limit_err = (nano <= 0) & (cpuset != "") & ~cpuset_valid
    entries.append(mk(
        "container.cpu.limit", nl, cpu_limit,
        ok=~limit_err, present=limit_err | (cpu_limit > 0),
    ))

    entries.append(mk("container.restarts", _z(c["RestartCount"]), nd))

    base_entries = F.filter(F.array(*entries), lambda x: x["present"])

    # per-core fan (receiver.go:280-282)
    percpu = F.coalesce(cpu["cpu_usage"]["percpu_usage"], F.array())
    percpu_entries = F.zip_with(
        percpu,
        F.sequence(F.lit(0), F.greatest(F.size(percpu) - 1, F.lit(0))),
        lambda v, i: mk("container.cpu.usage.percpu", _z(v), nd,
                        core=F.concat(F.lit("cpu"), i.cast("string"))),
    )
    percpu_entries = F.when(F.size(percpu) > 0, percpu_entries) \
        .otherwise(F.array().cast("array<" + _ENTRY_TYPE + ">"))

    # blkio fans (receiver.go:230-250). NB: capture loop vars via a
    # closure factory — a default-arg lambda confuses PySpark's HOF
    # arity inference.
    def _blk_fn(metric):
        def fn(st):
            return mk(
                metric, _z(st["value"]), nd,
                devmaj=_z(st["major"]).cast("string"),
                devmin=_z(st["minor"]).cast("string"),
                op=F.lower(F.coalesce(st["op"], F.lit(""))),
            )
        return fn

    blk_arrays = []
    for field, metric in _DOCKER_BLKIO:
        arr = F.coalesce(s["blkio_stats"][field],
                         F.array().cast(
                             "array<struct<major:bigint,minor:bigint,"
                             "op:string,value:bigint>>"))
        blk_arrays.append(F.transform(arr, _blk_fn(metric)))
    blkio_entries = F.concat(*blk_arrays)

    # network fans (receiver.go:252-267)
    nets = F.map_entries(s["networks"])

    def _net_fn(field, metric):
        def fn(kv):
            return mk(metric, _z(kv["value"][field]), nd,
                      iface=kv["key"])
        return fn

    net_arrays = []
    for field, metric in _DOCKER_NET:
        net_arrays.append(F.transform(nets, _net_fn(field, metric)))
    net_entries = F.when(
        s["networks"].isNotNull(), F.concat(*net_arrays)
    ).otherwise(F.array().cast("array<" + _ENTRY_TYPE + ">"))

    all_entries = F.concat(
        base_entries, percpu_entries, blkio_entries, net_entries
    )

    exploded = df.select(
        *base,
        c["Id"].alias("dk_container_id"),
        F.regexp_replace(F.coalesce(c["Name"], F.lit("")), "^/", "")
            .alias("dk_container_name"),
        F.coalesce(c["Config"]["Hostname"], F.lit(""))
            .alias("dk_hostname"),
        F.coalesce(c["Config"]["Image"], F.lit(""))
            .alias("dk_image_name"),
        F.coalesce(c["Image"], F.lit("")).alias("dk_image_id"),
        F.array_join(F.coalesce(c["Config"]["Cmd"], F.array()), " ")
            .alias("dk_command_line"),
        F.explode(all_entries).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[x for x in exploded.columns if x != "_m"],
        m["metric"].alias("dk_metric"),
        m["devmaj"].alias("dk_device_major"),
        m["devmin"].alias("dk_device_minor"),
        m["op"].alias("dk_operation"),
        m["iface"].alias("dk_interface"),
        m["core"].alias("dk_core"),
        m["value"].alias("dk_value"),
        m["value_d"].alias("dk_value_d"),
        m["ok"].alias("dk_ok"),
    )
