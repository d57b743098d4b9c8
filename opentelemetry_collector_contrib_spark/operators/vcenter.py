"""vCenter object-stats → metric translation.

Re-expresses the property-collector half of the vcenter receiver
(``receiver/vcenterreceiver/metrics.go:111-338``) over rows of one
collected object each (``kind`` ∈ datastore | cluster |
resource_pool | host | vm, the needed summary fields as JSON):

- datastore (:111-122): used = capacity − free, the used/available
  pair and utilization = used/capacity × 100;
- cluster (:124-147): powered on/off/suspended VM counts + template
  count, cpu limit/effective, memory effective (MiB<<20) / limit,
  host count split into effective=true/false with ineffective =
  NumHosts − NumEffectiveHosts;
- resource pool (:178-203): QuickStats-gated cpu usage, guest/host/
  overhead memory usage, swapped/ballooned, private/shared granted,
  plus the always-emitted cpu/memory shares;
- host (:205-224): memory usage + utilization (100·usage/(bytes>>20)),
  cpu usage, capacity = cores × MHz, cpu utilization;
- vm (:256-338) with the reference's early-return ladder: the two
  disk rows always; a TEMPLATE stops there; disk utilization only
  when free ≠ 0; memory utilization only when configured memory > 0
  AND usage > 0; the five memory rows; then cpu usage — a zero usage
  stops the row set; cpu limit = MaxCpuUsage else NumCPU × host MHz,
  a zero limit stops before utilization; finally cpu readiness.

Plan: one schema-pruned from_json + inline explode — zero shuffle,
zero Python.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCHEMA = """struct<
  capacity: bigint, free_space: bigint,
  powered_on: bigint, powered_off: bigint, suspended: bigint,
  templates: bigint, total_cpu: bigint, effective_cpu: bigint,
  effective_memory: bigint, total_memory: bigint, num_hosts: bigint,
  num_effective_hosts: bigint,
  quick_stats: struct<overall_cpu_usage: bigint,
    guest_memory_usage: bigint, host_memory_usage: bigint,
    overhead_memory: bigint, swapped_memory: bigint,
    ballooned_memory: bigint, private_memory: bigint,
    shared_memory: bigint, ssd_swapped_memory: bigint,
    granted_memory: bigint, overall_memory_usage: bigint,
    overall_cpu_readiness: bigint>,
  cpu_shares: bigint, memory_shares: bigint,
  memory_size: bigint, num_cpu_cores: bigint, cpu_mhz: bigint,
  committed: bigint, uncommitted: bigint, template: boolean,
  memory_size_mb: bigint, num_cpu: bigint, max_cpu_usage: bigint,
  host_cpu_mhz: bigint
>"""

_ENTRY = ("struct<metric:string,attr:string,value:bigint,"
          "value_d:double,present:boolean>")


def vcenter_stats(df: DataFrame) -> DataFrame:
    kind = F.col("kind")
    o = F.from_json(F.col("body"), _SCHEMA)
    base = [c for c in df.columns if c not in ("kind", "body")]
    df = df.select(*base, kind.alias("_kind"), o.alias("_o"))
    kind, o = F.col("_kind"), F.col("_o")

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    entries = []

    def mk(metric, attr, present, vi, vd):
        entries.append(F.struct(
            F.lit(metric).alias("metric"),
            (F.lit(attr) if attr else ns).alias("attr"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            present.alias("present"),
        ))

    # datastore
    is_ds = kind == "datastore"
    used = z(o["capacity"]) - z(o["free_space"])
    mk("vcenter.datastore.disk.usage", "used", is_ds, used, nd)
    mk("vcenter.datastore.disk.usage", "available", is_ds,
       z(o["free_space"]), nd)
    mk("vcenter.datastore.disk.utilization", None, is_ds, nl,
       F.try_divide(used.cast("double"),
                    z(o["capacity"]).cast("double")) * 100.0)

    # cluster
    is_cl = kind == "cluster"
    for attr, field in (("on", "powered_on"), ("off", "powered_off"),
                        ("suspended", "suspended")):
        mk("vcenter.cluster.vm.count", attr, is_cl, z(o[field]), nd)
    mk("vcenter.cluster.vm_template.count", None, is_cl,
       z(o["templates"]), nd)
    mk("vcenter.cluster.cpu.limit", None, is_cl, z(o["total_cpu"]), nd)
    mk("vcenter.cluster.cpu.effective", None, is_cl,
       z(o["effective_cpu"]), nd)
    mk("vcenter.cluster.memory.effective", None, is_cl,
       z(o["effective_memory"]) * 1048576, nd)  # MiB << 20
    mk("vcenter.cluster.memory.limit", None, is_cl,
       z(o["total_memory"]), nd)
    mk("vcenter.cluster.host.count", "false", is_cl,
       z(o["num_hosts"]) - z(o["num_effective_hosts"]), nd)
    mk("vcenter.cluster.host.count", "true", is_cl,
       z(o["num_effective_hosts"]), nd)

    # resource pool (QuickStats pointer gate)
    is_rp = kind == "resource_pool"
    qs = o["quick_stats"]
    has_qs = qs.isNotNull()
    mk("vcenter.resource_pool.cpu.usage", None, is_rp & has_qs,
       z(qs["overall_cpu_usage"]), nd)
    for attr, field in (("guest", "guest_memory_usage"),
                        ("host", "host_memory_usage"),
                        ("overhead", "overhead_memory")):
        mk("vcenter.resource_pool.memory.usage", attr, is_rp & has_qs,
           z(qs[field]), nd)
    mk("vcenter.resource_pool.memory.swapped", None, is_rp & has_qs,
       z(qs["swapped_memory"]), nd)
    mk("vcenter.resource_pool.memory.ballooned", None, is_rp & has_qs,
       z(qs["ballooned_memory"]), nd)
    mk("vcenter.resource_pool.memory.granted", "private",
       is_rp & has_qs, z(qs["private_memory"]), nd)
    mk("vcenter.resource_pool.memory.granted", "shared",
       is_rp & has_qs, z(qs["shared_memory"]), nd)
    mk("vcenter.resource_pool.cpu.shares", None, is_rp,
       z(o["cpu_shares"]), nd)
    mk("vcenter.resource_pool.memory.shares", None, is_rp,
       z(o["memory_shares"]), nd)

    # host
    is_h = kind == "host"
    mem_mb = F.shiftright(z(o["memory_size"]), 20)  # MemorySize >> 20
    mk("vcenter.host.memory.usage", None, is_h,
       z(qs["overall_memory_usage"]), nd)
    mk("vcenter.host.memory.utilization", None, is_h, nl,
       F.try_divide(z(qs["overall_memory_usage"]).cast("double")
                    * 100.0, mem_mb.cast("double")))
    mk("vcenter.host.cpu.usage", None, is_h,
       z(qs["overall_cpu_usage"]), nd)
    cpu_cap = (z(o["num_cpu_cores"]) * z(o["cpu_mhz"])).cast("double")
    mk("vcenter.host.cpu.capacity", None, is_h, cpu_cap, nd)
    mk("vcenter.host.memory.capacity", None, is_h, nl,
       mem_mb.cast("double"))
    mk("vcenter.host.cpu.utilization", None, is_h, nl,
       F.try_divide(z(qs["overall_cpu_usage"]).cast("double") * 100.0,
                    cpu_cap))

    # vm: the early-return ladder (metrics.go:256-338)
    is_vm = kind == "vm"
    tmpl = F.coalesce(o["template"], F.lit(False))
    disk_used = z(o["committed"])
    disk_free = z(o["uncommitted"])
    mk("vcenter.vm.disk.usage", "used", is_vm, disk_used, nd)
    mk("vcenter.vm.disk.usage", "available", is_vm, disk_free, nd)
    live = is_vm & ~tmpl
    mk("vcenter.vm.disk.utilization", None, live & (disk_free != 0),
       nl, F.try_divide(disk_used.cast("double"),
                        (disk_free + disk_used).cast("double")) * 100.0)
    mem_usage = z(qs["guest_memory_usage"])
    total_mem = z(o["memory_size_mb"])
    mk("vcenter.vm.memory.utilization", None,
       live & (total_mem > 0) & (mem_usage > 0), nl,
       F.try_divide(mem_usage.cast("double"),
                    total_mem.cast("double")) * 100.0)
    mk("vcenter.vm.memory.usage", None, live, mem_usage, nd)
    mk("vcenter.vm.memory.ballooned", None, live,
       z(qs["ballooned_memory"]), nd)
    mk("vcenter.vm.memory.swapped", None, live,
       z(qs["swapped_memory"]), nd)
    mk("vcenter.vm.memory.swapped_ssd", None, live,
       z(qs["ssd_swapped_memory"]), nd)
    mk("vcenter.vm.memory.granted", None, live,
       z(qs["granted_memory"]), nd)
    cpu_usage = z(qs["overall_cpu_usage"])
    running = live & (cpu_usage != 0)
    mk("vcenter.vm.cpu.usage", None, running, cpu_usage, nd)
    cpu_limit = F.when(
        z(o["max_cpu_usage"]) != 0, z(o["max_cpu_usage"]),
    ).otherwise(z(o["num_cpu"]) * z(o["host_cpu_mhz"]))
    limited = running & (cpu_limit != 0)
    mk("vcenter.vm.cpu.utilization", None, limited, nl,
       F.try_divide(cpu_usage.cast("double") * 100.0,
                    cpu_limit.cast("double")))
    mk("vcenter.vm.cpu.readiness", None, limited,
       z(qs["overall_cpu_readiness"]), nd)

    exploded = df.select(
        *base,
        kind.alias("kind"),
        F.explode(
            F.filter(F.array(*entries), lambda x: x["present"])
        ).alias("_m"),
    )
    m = F.col("_m")
    return exploded.select(
        *[c for c in exploded.columns if c != "_m"],
        m["metric"].alias("vc_metric"),
        m["attr"].alias("vc_attr"),
        m["value"].alias("vc_value"),
        m["value_d"].alias("vc_value_d"),
    )
