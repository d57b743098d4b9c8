"""ECS task-metadata-endpoint → container/task metric translation.

Re-expresses ``receiver/awsecscontainermetricsreceiver/internal/
awsecscontainermetrics`` (accumulator.go:22-106,
metrics_helper.go:12-156, translator.go:12-63) over DataFrames with
one task per row: the ``${ECS_CONTAINER_METADATA_URI_V4}/task``
metadata document and the ``/task/stats`` docker-stats map keyed by
DockerId.

Semantics mirrored:

- per container with non-empty stats (isEmptyStats :57-59): the 26
  ``container.*`` values of convertToOTLPMetrics — memory
  usage/max/limit, ``memory.utilized`` = (usage − stats[cache])/MiB
  integer division, the cpu block gated on cpu_stats+precpu_stats
  presence with cores = len(percpu), ``cpu.usage.vcpu`` =
  Δtotal/Δread-time(ns), ``cpu.utilized`` = vcpu×100 then ÷ the
  container CPU limit when set (accumulator.go:61-74), summed
  network/rate/storage (Read/Write ops only, Async/Total ignored);
  reserved memory/cpu from the container limits;
- a stats-less container with both StartedAt and FinishedAt emits
  only ``container.duration`` seconds (parse error → 0 + warn,
  accumulator.go:39-46);
- ``ecs.task.*``: field-wise SUM over the with-stats containers, then
  the task-limit overrides — memory reserved replaced, cpu reserved =
  task CPU × 1024 (cpusInVCpu), and when reserved > 0 cpu.utilized is
  recomputed as vcpu_sum × 1024 (accumulator.go:76-94);
- resource attrs: task id from the ARN's last '/' segment, cluster
  name from its ARN tail, container name/DockerId.

Everything computes inside higher-order functions over the containers
array — the task aggregation never leaves the row, so the plan is one
from_json + inline explode: zero shuffle, zero Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_STATS = """map<string, struct<
  name: string, id: string, read: string, preread: string,
  memory_stats: struct<usage: bigint, max_usage: bigint, limit: bigint,
                       stats: map<string, bigint>>,
  blkio_stats: struct<io_service_bytes_recursive: array<struct<
      major: bigint, minor: bigint, op: string, value: bigint>>>,
  networks: map<string, struct<rx_bytes: bigint, rx_packets: bigint,
      rx_errors: bigint, rx_dropped: bigint, tx_bytes: bigint,
      tx_packets: bigint, tx_errors: bigint, tx_dropped: bigint>>,
  network_rate_stats: struct<rx_bytes_per_sec: double,
                             tx_bytes_per_sec: double>,
  cpu_stats: struct<cpu_usage: struct<total_usage: bigint,
      usage_in_kernelmode: bigint, usage_in_usermode: bigint,
      percpu_usage: array<bigint>>, online_cpus: bigint,
      system_cpu_usage: bigint>,
  precpu_stats: struct<cpu_usage: struct<total_usage: bigint>>
>>"""

_META = """struct<
  Cluster: string, TaskARN: string, Family: string, Revision: string,
  ServiceName: string, KnownStatus: string, LaunchType: string,
  Limits: struct<CPU: double, Memory: bigint>,
  Containers: array<struct<DockerId: string, DockerName: string,
      Name: string, Image: string, ImageID: string, CreatedAt: string,
      StartedAt: string, FinishedAt: string, KnownStatus: string,
      Limits: struct<CPU: double, Memory: bigint>>>
>"""

# ECSMetrics fields in convertToOTLPMetrics order:
# (field, metric suffix, int|double)
_ECS_FIELDS = (
    ("mem_usage", "memory.usage", "i"),
    ("mem_max", "memory.usage.max", "i"),
    ("mem_limit", "memory.usage.limit", "i"),
    ("mem_utilized", "memory.utilized", "i"),
    ("mem_reserved", "memory.reserved", "i"),
    ("cpu_total", "cpu.usage.total", "i"),
    ("cpu_kernel", "cpu.usage.kernelmode", "i"),
    ("cpu_user", "cpu.usage.usermode", "i"),
    ("cpu_cores", "cpu.cores", "i"),
    ("cpu_onlines", "cpu.onlines", "i"),
    ("cpu_system", "cpu.usage.system", "i"),
    ("cpu_utilized", "cpu.utilized", "d"),
    ("cpu_reserved", "cpu.reserved", "d"),
    ("cpu_vcpu", "cpu.usage.vcpu", "d"),
    ("net_rate_rx", "network.rate.rx", "d"),
    ("net_rate_tx", "network.rate.tx", "d"),
    ("net_rx_bytes", "network.io.usage.rx_bytes", "i"),
    ("net_rx_packets", "network.io.usage.rx_packets", "i"),
    ("net_rx_errors", "network.io.usage.rx_errors", "i"),
    ("net_rx_dropped", "network.io.usage.rx_dropped", "i"),
    ("net_tx_bytes", "network.io.usage.tx_bytes", "i"),
    ("net_tx_packets", "network.io.usage.tx_packets", "i"),
    ("net_tx_errors", "network.io.usage.tx_errors", "i"),
    ("net_tx_dropped", "network.io.usage.tx_dropped", "i"),
    ("storage_read", "storage.read_bytes", "i"),
    ("storage_write", "storage.write_bytes", "i"),
)

_ENTRY = ("struct<scope:string,metric:string,container:string,"
          "docker_id:string,value:bigint,value_d:double>")


def _z(c: Column) -> Column:
    return F.coalesce(c, F.lit(0))


def _zd(c: Column) -> Column:
    return F.coalesce(c, F.lit(0.0))


def _sum_net(st: Column, field: str) -> Column:
    # closure factory: a default-arg lambda breaks HOF arity inference
    def merge(acc, n):
        return acc + _z(n[field])

    return F.aggregate(
        F.coalesce(F.map_values(st["networks"]), F.array()),
        F.lit(0).cast("bigint"), merge,
    )


def _metrics_struct(c: Column, st: Column) -> Column:
    """getContainerMetrics + convertContainerMetrics as one struct."""
    mem = st["memory_stats"]
    cache = _z(F.try_element_at(mem["stats"], F.lit("cache")))
    mem_utilized = F.when(
        mem.isNotNull() & mem["stats"].isNotNull(),
        F.floor((_z(mem["usage"]) - cache) / 1048576),
    ).otherwise(F.lit(0))

    cpu = st["cpu_stats"]
    pre = st["precpu_stats"]
    cpu_ok = (cpu.isNotNull() & cpu["cpu_usage"].isNotNull()
              & pre.isNotNull() & pre["cpu_usage"].isNotNull())
    diff_ns = (
        (F.unix_micros(F.try_to_timestamp(st["read"]))
         - F.unix_micros(F.try_to_timestamp(st["preread"])))
        * 1000
    ).cast("double")
    delta = (_z(cpu["cpu_usage"]["total_usage"])
             - _z(pre["cpu_usage"]["total_usage"])).cast("double")
    vcpu = F.when(cpu_ok & (diff_ns > 0), delta / diff_ns) \
        .otherwise(F.lit(0.0))
    cpu_reserved = _zd(c["Limits"]["CPU"])
    utilized = vcpu * 100.0
    utilized = F.when(cpu_reserved > 0, utilized / cpu_reserved) \
        .otherwise(utilized)
    utilized = F.when(cpu_ok, utilized).otherwise(
        # cpu block skipped entirely -> zero value, still scaled by
        # convertContainerMetrics (0 / limit == 0)
        F.lit(0.0),
    )

    storage = F.coalesce(
        st["blkio_stats"]["io_service_bytes_recursive"], F.array(),
    )
    read_b = F.aggregate(
        F.filter(storage, lambda b: b["op"] == "Read"),
        F.lit(0).cast("bigint"), lambda acc, b: acc + _z(b["value"]),
    )
    write_b = F.aggregate(
        F.filter(storage, lambda b: b["op"] == "Write"),
        F.lit(0).cast("bigint"), lambda acc, b: acc + _z(b["value"]),
    )
    rate = st["network_rate_stats"]
    zi = lambda v, cond: F.when(cond, _z(v)).otherwise(  # noqa: E731
        F.lit(0)).cast("bigint")
    mem_ok = mem.isNotNull()
    return F.struct(
        zi(mem["usage"], mem_ok).alias("mem_usage"),
        zi(mem["max_usage"], mem_ok).alias("mem_max"),
        zi(mem["limit"], mem_ok).alias("mem_limit"),
        mem_utilized.cast("bigint").alias("mem_utilized"),
        _z(c["Limits"]["Memory"]).alias("mem_reserved"),
        zi(cpu["cpu_usage"]["total_usage"], cpu_ok).alias("cpu_total"),
        zi(cpu["cpu_usage"]["usage_in_kernelmode"], cpu_ok)
            .alias("cpu_kernel"),
        zi(cpu["cpu_usage"]["usage_in_usermode"], cpu_ok)
            .alias("cpu_user"),
        F.when(cpu_ok, F.size(F.coalesce(
            cpu["cpu_usage"]["percpu_usage"], F.array())))
            .otherwise(0).cast("bigint").alias("cpu_cores"),
        zi(cpu["online_cpus"], cpu_ok).alias("cpu_onlines"),
        zi(cpu["system_cpu_usage"], cpu_ok).alias("cpu_system"),
        utilized.alias("cpu_utilized"),
        cpu_reserved.alias("cpu_reserved"),
        vcpu.alias("cpu_vcpu"),
        _zd(rate["rx_bytes_per_sec"]).alias("net_rate_rx"),
        _zd(rate["tx_bytes_per_sec"]).alias("net_rate_tx"),
        _sum_net(st, "rx_bytes").alias("net_rx_bytes"),
        _sum_net(st, "rx_packets").alias("net_rx_packets"),
        _sum_net(st, "rx_errors").alias("net_rx_errors"),
        _sum_net(st, "rx_dropped").alias("net_rx_dropped"),
        _sum_net(st, "tx_bytes").alias("net_tx_bytes"),
        _sum_net(st, "tx_packets").alias("net_tx_packets"),
        _sum_net(st, "tx_errors").alias("net_tx_errors"),
        _sum_net(st, "tx_dropped").alias("net_tx_dropped"),
        read_b.alias("storage_read"),
        write_b.alias("storage_write"),
    )


def ecs_task_metrics(
    df: DataFrame,
) -> DataFrame:
    meta = F.from_json(F.col("metadata"), _META)
    stats = F.from_json(F.col("stats"), _STATS)
    base = [x for x in df.columns if x not in ("metadata", "stats")]
    df = df.select(*base, meta.alias("_meta"), stats.alias("_st"))
    meta, stats = F.col("_meta"), F.col("_st")

    conts = F.coalesce(meta["Containers"], F.array())

    def lookup(c: Column) -> Column:
        return F.try_element_at(stats, c["DockerId"])

    def has_stats(c: Column) -> Column:
        st = lookup(c)
        return st.isNotNull() & (F.coalesce(st["id"], F.lit("")) != "")

    def entry(scope, metric, cont, docker, vi, vd):
        ns = F.lit(None).cast("string")
        return F.struct(
            F.lit(scope).alias("scope"), metric.alias("metric"),
            (cont if cont is not None else ns).alias("container"),
            (docker if docker is not None else ns).alias("docker_id"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
        )

    def field_entries(scope, m, cont, docker) -> Column:
        rows = []
        for field, suffix, vt in _ECS_FIELDS:
            prefix = "container." if scope == "container" else "ecs.task."
            if vt == "i":
                rows.append(entry(scope, F.lit(prefix + suffix), cont,
                                  docker, m[field],
                                  F.lit(None).cast("double")))
            else:
                rows.append(entry(scope, F.lit(prefix + suffix), cont,
                                  docker, F.lit(None).cast("bigint"),
                                  m[field]))
        return F.array(*rows)

    def duration_sec(c: Column) -> Column:
        d = (
            F.unix_micros(F.try_to_timestamp(c["FinishedAt"]))
            - F.unix_micros(F.try_to_timestamp(c["StartedAt"]))
        ).cast("double") / 1e6
        return F.coalesce(d, F.lit(0.0))

    # Stage per-container (container, has_stats, metrics) structs as a
    # CONCRETE column first: referencing _metrics_struct per summed
    # field would re-inline the whole expression tree 26x (the
    # lambda-staging lesson from PLANS.md).
    df = df.withColumn("_cm", F.transform(conts, lambda c: F.struct(
        c.alias("c"), has_stats(c).alias("hs"),
        _metrics_struct(c, lookup(c)).alias("m"),
    )))
    cm = F.col("_cm")

    cont_entries = F.flatten(F.transform(cm, lambda x: F.when(
        x["hs"],
        field_entries("container", x["m"], x["c"]["Name"],
                      x["c"]["DockerId"]),
    ).when(
        (F.coalesce(x["c"]["FinishedAt"], F.lit("")) != "")
        & (F.coalesce(x["c"]["StartedAt"], F.lit("")) != ""),
        F.array(entry("container", F.lit("container.duration"),
                      x["c"]["Name"], x["c"]["DockerId"],
                      F.lit(None).cast("bigint"),
                      duration_sec(x["c"]))),
    ).otherwise(F.array().cast(f"array<{_ENTRY}>"))))

    # task = field-wise sum over with-stats containers
    zero = F.struct(*[
        (F.lit(0).cast("bigint") if vt == "i"
         else F.lit(0.0)).alias(f) for f, _, vt in _ECS_FIELDS
    ])
    msum = F.aggregate(
        F.filter(cm, lambda x: x["hs"]),
        zero,
        lambda acc, x: F.struct(*[
            (acc[f] + x["m"][f]).alias(f) for f, _, vt in _ECS_FIELDS
        ]),
    )

    # task-level limit overrides (accumulator.go:76-94)
    task_mem_res = F.coalesce(meta["Limits"]["Memory"],
                              msum["mem_reserved"])
    task_cpu_res = F.when(
        meta["Limits"]["CPU"].isNotNull(),
        meta["Limits"]["CPU"] * 1024.0,
    ).otherwise(msum["cpu_reserved"])
    task_utilized = F.when(
        task_cpu_res > 0, msum["cpu_vcpu"] * 1024.0,
    ).otherwise(msum["cpu_utilized"])
    task_m = F.struct(*[
        (
            task_mem_res if f == "mem_reserved"
            else task_cpu_res if f == "cpu_reserved"
            else task_utilized if f == "cpu_utilized"
            else msum[f]
        ).alias(f)
        for f, _, vt in _ECS_FIELDS
    ])
    task_entries = field_entries("task", task_m, None, None)

    arn = meta["TaskARN"]
    task_id = F.element_at(F.split(arn, "/"), -1)
    cluster = F.element_at(F.split(meta["Cluster"], "/"), -1)
    exploded = df.select(
        *base,
        cluster.alias("ec_cluster"),
        arn.alias("ec_task_arn"),
        task_id.alias("ec_task_id"),
        meta["Family"].alias("ec_family"),
        F.explode(F.concat(cont_entries, task_entries)).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[x for x in exploded.columns if x != "_m"],
        m["scope"].alias("ec_scope"),
        m["container"].alias("ec_container"),
        m["docker_id"].alias("ec_docker_id"),
        m["metric"].alias("ec_metric"),
        m["value"].alias("ec_value"),
        m["value_d"].alias("ec_value_d"),
    )
