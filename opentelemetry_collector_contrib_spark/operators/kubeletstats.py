"""kubelet ``/stats/summary`` → metric translation.

Re-expresses ``receiver/kubeletstatsreceiver/internal/kubelet``
(accumulator.go:55-144, cpu.go, mem.go, fs.go, network.go, volume.go)
over DataFrames with one stats-summary document per row:

- the summary's ``*uint64`` pointers are nullable: an absent field
  emits NO row (recordIntDataPoint's nil skip), a present 0 emits 0;
- cpu: ``usageNanoCores``/1e9 → ``*.cpu.usage`` (gauge, cores) —
  only when the pointer is present (cpu.go:22-30); usageCoreNano-
  Seconds/1e9 → ``*.cpu.time`` (monotonic double seconds);
- memory: available/usage/rss/workingSet/pageFaults/majorPageFaults;
- filesystem: node ``fs``, pod ``ephemeral-storage``, container
  ``rootfs`` → available/capacity/usage (usedBytes);
- network: default-interface rx/tx rows for io + errors, each side
  emitted only when its pointer exists (network.go:37-48); with
  ``all_interfaces`` the per-interface array fans instead and the
  default-interface rows are NOT emitted (:22-30);
- volumes (``include_volumes``, default off like the volume metric
  group): available/capacity/inodes/inodesFree/inodesUsed per volume;
- uptime (``now_ns`` param, default-off like the disabled uptime
  metrics): ``int64(now − startTime)`` seconds when startTime parses.

The disabled-by-default utilization family needs the k8s API
metadata sidecar (pod/container limits) and is owned by the
enrichment stage, not this parser. Plan: one from_json + three
unioned explode projections — zero shuffle, zero Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CPU = "struct<usageNanoCores: bigint, usageCoreNanoSeconds: bigint>"
_MEM = ("struct<availableBytes: bigint, usageBytes: bigint,"
        " rssBytes: bigint, workingSetBytes: bigint, pageFaults: bigint,"
        " majorPageFaults: bigint>")
_FS = ("struct<availableBytes: bigint, capacityBytes: bigint,"
       " usedBytes: bigint>")
_IFACE = ("struct<name: string, rxBytes: bigint, txBytes: bigint,"
          " rxErrors: bigint, txErrors: bigint>")
_NET = (_IFACE[:-1] + f", interfaces: array<{_IFACE}>>")

_SUMMARY_SCHEMA = f"""struct<
  node: struct<nodeName: string, startTime: string, cpu: {_CPU},
               memory: {_MEM}, fs: {_FS}, network: {_NET}>,
  pods: array<struct<
    podRef: struct<name: string, namespace: string, uid: string>,
    startTime: string, cpu: {_CPU}, memory: {_MEM},
    `ephemeral-storage`: {_FS}, network: {_NET},
    containers: array<struct<name: string, startTime: string,
                             cpu: {_CPU}, memory: {_MEM},
                             rootfs: {_FS}>>,
    volume: array<struct<name: string, availableBytes: bigint,
                         capacityBytes: bigint, inodes: bigint,
                         inodesFree: bigint, inodesUsed: bigint>>
  >>
>"""

_ENTRY = ("struct<metric:string,iface:string,direction:string,"
          "value:bigint,value_d:double,present:boolean>")


def _group_entries(prefix: str, node, all_interfaces: bool,
                   with_network: bool, fs_field) -> Column:
    """Entries for one scope: prefix ∈ k8s.node. | k8s.pod. | container."""
    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def mk(metric, vi, vd, present, iface=None, direction=None):
        return F.struct(
            F.lit(metric).alias("metric"),
            (iface if iface is not None else ns).alias("iface"),
            (F.lit(direction) if direction else ns).alias("direction"),
            vi.cast("bigint").alias("value"),
            vd.cast("double").alias("value_d"),
            present.alias("present"),
        )

    cores = node["cpu"]["usageNanoCores"]
    secs = node["cpu"]["usageCoreNanoSeconds"]
    entries = [
        mk(prefix + "cpu.usage", nl, cores.cast("double") / 1e9,
           cores.isNotNull()),
        mk(prefix + "cpu.time", nl, secs.cast("double") / 1e9,
           secs.isNotNull()),
    ]
    for field, suffix in (
        ("availableBytes", "memory.available"),
        ("usageBytes", "memory.usage"), ("rssBytes", "memory.rss"),
        ("workingSetBytes", "memory.working_set"),
        ("pageFaults", "memory.page_faults"),
        ("majorPageFaults", "memory.major_page_faults"),
    ):
        v = node["memory"][field]
        entries.append(mk(prefix + suffix, v, nd, v.isNotNull()))
    if fs_field is not None:
        fs = node[fs_field]
        for field, suffix in (
            ("availableBytes", "filesystem.available"),
            ("capacityBytes", "filesystem.capacity"),
            ("usedBytes", "filesystem.usage"),
        ):
            v = fs[field]
            entries.append(mk(prefix + suffix, v, nd, v.isNotNull()))
    base = F.filter(F.array(*entries), lambda x: x["present"])
    if not with_network:
        return base

    net = node["network"]

    def iface_rows(src) -> list:
        rows = []
        for rx_f, tx_f, metric in (
            ("rxBytes", "txBytes", prefix + "network.io"),
            ("rxErrors", "txErrors", prefix + "network.errors"),
        ):
            rows.append(mk(metric, src[rx_f], nd,
                           src[rx_f].isNotNull(), iface=src["name"],
                           direction="receive"))
            rows.append(mk(metric, src[tx_f], nd,
                           src[tx_f].isNotNull(), iface=src["name"],
                           direction="transmit"))
        return rows

    if all_interfaces:
        fan = F.flatten(F.transform(
            F.coalesce(net["interfaces"],
                       F.array().cast(f"array<{_IFACE}>")),
            lambda i: F.filter(F.array(*iface_rows(i)),
                               lambda x: x["present"]),
        ))
        return F.concat(base, fan)
    return F.concat(
        base, F.filter(F.array(*iface_rows(net)), lambda x: x["present"])
    )


def kubelet_stats_summary(
    df: DataFrame,
    all_interfaces: bool = False,
    include_volumes: bool = False,
) -> DataFrame:
    s = F.from_json(F.col("body"), _SUMMARY_SCHEMA)
    base_cols = [c for c in df.columns if c != "body"]
    staged = df.select(*base_cols, s.alias("_s"))
    s = F.col("_s")

    out_cols = ("ks_scope", "ks_node", "ks_pod_uid", "ks_pod",
                "ks_namespace", "ks_container", "ks_volume")

    node = s["node"]
    br_node = staged.select(
        *base_cols,
        F.lit("node").alias("ks_scope"),
        F.coalesce(node["nodeName"], F.lit("")).alias("ks_node"),
        F.lit(None).cast("string").alias("ks_pod_uid"),
        F.lit(None).cast("string").alias("ks_pod"),
        F.lit(None).cast("string").alias("ks_namespace"),
        F.lit(None).cast("string").alias("ks_container"),
        F.lit(None).cast("string").alias("ks_volume"),
        F.explode(_group_entries(
            "k8s.node.", node, all_interfaces, True, "fs",
        )).alias("_m"),
    )

    pods = staged.select(
        *base_cols, F.coalesce(node["nodeName"], F.lit(""))
            .alias("ks_node"),
        F.explode(s["pods"]).alias("_p"),  # null/empty -> no pod rows
    )
    p = F.col("_p")
    br_pod = pods.select(
        *base_cols,
        F.lit("pod").alias("ks_scope"), "ks_node",
        p["podRef"]["uid"].alias("ks_pod_uid"),
        p["podRef"]["name"].alias("ks_pod"),
        p["podRef"]["namespace"].alias("ks_namespace"),
        F.lit(None).cast("string").alias("ks_container"),
        F.lit(None).cast("string").alias("ks_volume"),
        F.explode(_group_entries(
            "k8s.pod.", p, all_interfaces, True, "ephemeral-storage",
        )).alias("_m"),
    )

    containers = pods.select(
        *base_cols, "ks_node",
        p["podRef"]["uid"].alias("ks_pod_uid"),
        p["podRef"]["name"].alias("ks_pod"),
        p["podRef"]["namespace"].alias("ks_namespace"),
        F.explode(F.coalesce(
            p["containers"], F.array().cast(
                "array<struct<name:string,startTime:string,"
                f"cpu:{_CPU},memory:{_MEM},rootfs:{_FS}>>"),
        )).alias("_c"),
    )
    c = F.col("_c")
    br_cont = containers.select(
        *base_cols,
        F.lit("container").alias("ks_scope"), "ks_node", "ks_pod_uid",
        "ks_pod", "ks_namespace",
        c["name"].alias("ks_container"),
        F.lit(None).cast("string").alias("ks_volume"),
        F.explode(_group_entries(
            "container.", c, all_interfaces, False, "rootfs",
        )).alias("_m"),
    )

    branches = [br_node, br_pod, br_cont]
    if include_volumes:
        vols = pods.select(
            *base_cols, "ks_node",
            p["podRef"]["uid"].alias("ks_pod_uid"),
            p["podRef"]["name"].alias("ks_pod"),
            p["podRef"]["namespace"].alias("ks_namespace"),
            F.explode(F.coalesce(p["volume"], F.array().cast(
                "array<struct<name:string,availableBytes:bigint,"
                "capacityBytes:bigint,inodes:bigint,inodesFree:bigint,"
                "inodesUsed:bigint>>"))).alias("_v"),
        )
        vv = F.col("_v")
        ns = F.lit(None).cast("string")
        nd = F.lit(None).cast("double")
        ventries = [
            F.struct(
                F.lit("k8s.volume." + suffix).alias("metric"),
                ns.alias("iface"), ns.alias("direction"),
                vv[field].cast("bigint").alias("value"),
                nd.alias("value_d"),
                vv[field].isNotNull().alias("present"),
            )
            for field, suffix in (
                ("availableBytes", "available"),
                ("capacityBytes", "capacity"), ("inodes", "inodes"),
                ("inodesFree", "inodes.free"),
                ("inodesUsed", "inodes.used"),
            )
        ]
        br_vol = vols.select(
            *base_cols,
            F.lit("volume").alias("ks_scope"), "ks_node", "ks_pod_uid",
            "ks_pod", "ks_namespace",
            F.lit(None).cast("string").alias("ks_container"),
            vv["name"].alias("ks_volume"),
            F.explode(F.filter(F.array(*ventries),
                               lambda x: x["present"])).alias("_m"),
        )
        branches.append(br_vol)

    out = None
    m = F.col("_m")
    for br in branches:
        sel = br.select(
            *base_cols, *out_cols,
            m["metric"].alias("ks_metric"),
            m["iface"].alias("ks_interface"),
            m["direction"].alias("ks_direction"),
            m["value"].alias("ks_value"),
            m["value_d"].alias("ks_value_d"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out
